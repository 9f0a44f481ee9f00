"""Command-surface smoke tests: each reference command (scan / analyze /
tail / sample / pipeline) has a spark-submit entry point that runs
end-to-end on a tiny corpus.  get_spark reuses the test session via
getOrCreate."""

from __future__ import annotations

import sys

from pyspark.sql import functions as F

from oplog_analyzer_spark import transcripts as T


def _run(main, argv: list[str], monkeypatch, capsys) -> str:
    monkeypatch.setattr(sys, "argv", ["prog", *argv])
    main()
    return capsys.readouterr().out


def test_run_scan_cli(spark, transcripts, tmp_path, monkeypatch, capsys):
    src = str(tmp_path / "src")
    transcripts.write.parquet(src)
    from jobs.run_scan import main

    out = _run(main, ["--input", src, "--ops", "i,u", "--buckets", "90,120"], monkeypatch, capsys)
    assert "total_size" in out and "gt_90" in out
    assert " c " not in out  # command ops filtered by --ops
    # S8 reference layout behind --style (EntryAccumulator.java:77-177)
    ref = _run(
        main, ["--input", src, "--style", "reference", "--buckets", "90"],
        monkeypatch, capsys,
    )
    assert "Namespace" in ref and "total size" in ref and "> 90 bytes" in ref
    # F5 threshold side output + F8 shard subset + A5/A6 id stats flags
    # (the reference's -t / --shardIndex / --idStats surface)
    full = _run(
        main,
        ["--input", src, "--threshold", "60", "--shard-index", "0,2",
         "--id-stats", "--id-stats-threshold", "40", "--top-ids", "5"],
        monkeypatch, capsys,
    )
    assert "OPS >= 60 B (F5 side output)" in full
    assert "TOP 5 IDS (A5/A6)" in full
    # dump sink + per-shard breakdown + full-row side print
    # (the reference's -d/--dumpWithShard/--fullDocument/--shardStats)
    dump_dir = str(tmp_path / "dump")
    out2 = _run(
        main,
        ["--input", src, "--dump", dump_dir, "--dump-with-shard",
         "--shard-stats", "--threshold", "60", "--full-rows", "2"],
        monkeypatch, capsys,
    )
    assert "PER-SHARD BREAKDOWN (A8)" in out2
    assert "OVER-THRESHOLD ROWS" in out2
    dumped = spark.read.parquet(dump_dir)
    assert dumped.count() > 0 and "shard" in dumped.columns


def test_run_scan_cli_parity_unwind(spark, tmp_path, monkeypatch, capsys):
    """The default --unwind-mode parity must keep the parent $cmd entry,
    unwind only *.$cmd namespaces, and exclude inner config.* namespaces
    AFTER the unwind (ADVICE r02; TailCommand.java:637-668)."""
    rows = [
        # $cmd batch: parent kept + inner ops, inner config.* dropped
        ("c1", 0, "system", "ns=db0.$cmd op:c id=c1 w sub:config.x/i;db1.a/u",
         "t00", "2025-01-01 00:00:00"),
        # sub-marked command on a non-$cmd ns: parity must NOT unwind it
        ("c2", 0, "system", "ns=db2.b op:c id=c2 w sub:db3.z/i",
         "t01", "2025-01-01 00:01:00"),
    ]
    src = str(tmp_path / "parity_src")
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(src)
    from jobs.run_scan import main

    out = _run(main, ["--input", src], monkeypatch, capsys)
    assert "db0.$cmd" in out      # parent accumulated alongside inner ops
    assert "db1.a" in out         # inner op unwound
    assert "config.x" not in out  # inner system ns excluded post-unwind
    assert "db3.z" not in out     # non-$cmd batch not unwound in parity
    assert "db2.b" in out


def test_run_analyze_cli(spark, transcripts, tmp_path, monkeypatch, capsys):
    src = str(tmp_path / "src2")
    transcripts.write.parquet(src)
    from jobs.run_analyze import main

    out = _run(
        main,
        ["--input", src, "--heavy-avg", "100", "--frequent-ops", "10",
         "--small-avg", "95"],
        monkeypatch, capsys,
    )
    for section in ("SHARD SKEW", "WORKLOAD GROUPS", "COLLECTION PATTERNS",
                    "RECOMMENDATIONS"):
        assert section in out
    # J2: --stats-file overrides scan-derived totals with the sample
    # stats report (AnalyzeCommand --statsFile)
    from jobs.run_sample import main as sample_main

    stats_out = str(tmp_path / "stats_for_analyze")
    _run(sample_main, ["--input", src, "--stats-out", stats_out], monkeypatch, capsys)
    out2 = _run(
        main, ["--input", src, "--stats-file", stats_out], monkeypatch, capsys,
    )
    assert "AUTHORITATIVE (ns, op) TOTALS (J2" in out2


def test_run_tail_cli(spark, transcripts, tmp_path, monkeypatch, capsys):
    src = str(tmp_path / "src3")
    transcripts.write.parquet(src)
    from jobs.run_tail import main

    out = _run(
        main,
        ["--input", src, "--work-dir", str(tmp_path / "wd"),
         "--lag-wallclock", "2025-06-01 00:00:00"],
        monkeypatch, capsys,
    )
    assert "total_size" in out and "lag_sec" in out
    # the reference flagship form: tail -t N --idStats --dump
    # --includeNamespace ... (TailCommand.java:74-123) on the streaming path
    out2 = _run(
        main,
        ["--input", src, "--work-dir", str(tmp_path / "wd_full"),
         "--ns", ",".join(f"db{d}.coll{c}" for d in range(4) for c in range(8)),
         "--ops", "i,u,d", "--min-size", "40",
         "--threshold", "100", "--id-stats", "--id-stats-threshold", "60",
         "--top-ids", "7", "--dump"],
        monkeypatch, capsys,
    )
    assert "OPS >= 100 B" in out2
    assert "TOP 7 IDS" in out2
    assert "dump sink:" in out2
    # continuous-only flags are rejected without --continuous
    import pytest

    for flag, value in (("--processing-time", "1 second"),
                        ("--heartbeat-sec", "2"),
                        ("--stop-file", str(tmp_path / "stop"))):
        with pytest.raises(SystemExit):
            _run(main, ["--input", src, "--work-dir", str(tmp_path / "wd"),
                        flag, value], monkeypatch, capsys)


def test_run_tail_continuous_sigint_and_stop_file(
    spark, transcripts, tmp_path, monkeypatch, capsys
):
    """T5 graceful drain through the CLI, both drain signals: (a) SIGINT
    delivered to the python driver (the direct-python launch path — the
    handler sets a flag, the main loop stops the query and prints the
    final merged report) and (b) the --stop-file marker (the spark-submit
    path, where the parent JVM owns the default SIGINT disposition).  Each
    run's final report must equal the one-shot batch recompute."""
    import os
    import signal
    import threading
    import time

    from jobs.run_tail import main
    from oplog_analyzer_spark.streaming.tail import TailStream

    src = str(tmp_path / "src_cont")
    transcripts.write.parquet(src)

    def batch_total() -> int:
        from oplog_analyzer_spark.operators.aggregate import ns_op_report
        from oplog_analyzer_spark.operators.filters import exclude_system_namespaces
        from oplog_analyzer_spark.operators.parse import parse_transcripts

        parsed = exclude_system_namespaces(
            parse_transcripts(spark.read.parquet(src), with_diff_stats=False)
        )
        return sum(r["count"] for r in ns_op_report(parsed).collect())

    n_input = spark.read.parquet(src).count()

    def drain_when_processed(wd: str, fire) -> threading.Thread:
        """Watch the per-batch metrics from a side thread; once EVERY input
        row has been processed (not merely the first micro-batch — a drain
        racing a pending batch would under-count the final report), fire
        the drain signal."""
        def watch():
            deadline = time.monotonic() + 240
            metrics = os.path.join(wd, "metrics")
            while time.monotonic() < deadline:
                try:
                    done = (
                        spark.read.parquet(metrics)
                        .agg(F.sum("rows")).collect()[0][0] or 0
                    )
                except Exception:  # no batch yet / in-flight dir
                    done = 0
                if done >= n_input:
                    break
                time.sleep(0.5)
            time.sleep(2)  # let the last batch commit its offset
            fire()
        t = threading.Thread(target=watch, daemon=True)
        t.start()
        return t

    # (a) SIGINT to the python driver (handlers run in the main thread,
    # which is sitting in the _run_continuous poll loop)
    wd_a = str(tmp_path / "wd_sig")
    backstop = str(tmp_path / "backstop.marker")

    def fire_sigint():
        os.kill(os.getpid(), signal.SIGINT)
        time.sleep(30)
        open(backstop, "w").close()  # only reached if the signal was lost

    watcher = drain_when_processed(wd_a, fire_sigint)
    out = _run(
        main,
        ["--input", src, "--work-dir", wd_a, "--continuous",
         "--processing-time", "1 second", "--stop-file", backstop],
        monkeypatch, capsys,
    )
    assert not os.path.exists(backstop), "SIGINT was lost; backstop drained"
    assert "graceful" in out
    total_a = sum(
        r["count"] for r in TailStream(spark, src, wd_a).report().collect()
    )
    assert total_a == batch_total() > 0

    # (b) --stop-file marker drain
    wd_b = str(tmp_path / "wd_marker")
    marker = str(tmp_path / "drain.marker")
    drain_when_processed(wd_b, lambda: open(marker, "w").close())
    out_b = _run(
        main,
        ["--input", src, "--work-dir", wd_b, "--continuous",
         "--processing-time", "1 second", "--stop-file", marker],
        monkeypatch, capsys,
    )
    assert "graceful" in out_b
    total_b = sum(
        r["count"] for r in TailStream(spark, src, wd_b).report().collect()
    )
    assert total_b == batch_total()
    watcher.join(timeout=60)


def test_run_sample_cli(spark, transcripts, tmp_path, monkeypatch, capsys):
    src = str(tmp_path / "src4")
    transcripts.write.parquet(src)
    from jobs.run_sample import main

    stats_out = str(tmp_path / "stats")
    out = _run(
        main,
        ["--input", src, "--stats-out", stats_out, "--ids-per-group", "3"],
        monkeypatch, capsys,
    )
    assert "total_size" in out
    # stats JSON round-trips (S9)
    reloaded = spark.read.json(stats_out)
    assert reloaded.count() > 0 and "total_size" in reloaded.columns
    # reference-layout stats document behind --style
    # (SampleCommand.writeStatsAsJson, java:548-592)
    import json

    ref_out = str(tmp_path / "stats_ref.json")
    _run(
        main,
        ["--input", src, "--stats-out", ref_out, "--ids-per-group", "3",
         "--style", "reference"],
        monkeypatch, capsys,
    )
    with open(ref_out) as f:
        doc = json.load(f)
    assert set(doc) == {
        "timestamp", "samplingPeriod", "totalProcessed", "totalSampled", "shards",
    }
    some_shard = next(iter(doc["shards"].values()))
    some_coll = next(iter(some_shard["collections"].values()))
    assert set(some_coll) == {"count", "totalBytes", "avgBytes", "minBytes", "maxBytes"}
    assert some_coll["avgBytes"] == some_coll["totalBytes"] // some_coll["count"]
    # totals are REAL (Observation metric + per-shard sums), not placeholders
    from oplog_analyzer_spark.operators.filters import exclude_system_namespaces
    from oplog_analyzer_spark.operators.parse import parse_transcripts

    n_user = exclude_system_namespaces(
        parse_transcripts(spark.read.parquet(src))
    ).count()
    assert doc["totalProcessed"] == n_user
    assert doc["totalSampled"] == sum(
        c["count"] for s in doc["shards"].values() for c in s["collections"].values()
    )

    # --statsFormat bson parity: the reference's BSON writer is an explicit
    # TODO stub that logs a notice and writes the JSON document into the
    # .bson-named file (SampleCommand.java:594-601) — mirrored exactly
    import pytest

    bson_out = str(tmp_path / "stats_ref.bson")
    printed = _run(
        main,
        ["--input", src, "--stats-out", bson_out, "--ids-per-group", "3",
         "--style", "reference", "--stats-format", "bson"],
        monkeypatch, capsys,
    )
    assert "BSON stats format not yet implemented, using JSON" in printed
    with open(bson_out) as f:
        assert json.load(f)["totalProcessed"] == n_user
    with pytest.raises(SystemExit):
        _run(main, ["--input", src, "--stats-out", bson_out,
                    "--stats-format", "bson"], monkeypatch, capsys)
    assert 0 < doc["totalSampled"] <= doc["totalProcessed"]


def test_run_sample_reference_single_pass(spark, transcripts, tmp_path, monkeypatch, capsys):
    """--style reference derives totalProcessed/totalSampled from the one
    per-shard aggregate pass (Observation on the sampling join's probe +
    collected-row sums).  DataFrame.count() raising proves the two full
    rescans of VERDICT r04 "What's wrong" #2 are gone."""
    from pyspark.sql import DataFrame

    from jobs.run_sample import main

    src = str(tmp_path / "src5")
    transcripts.write.parquet(src)

    def boom(self):
        raise AssertionError("df.count() called on the reference-style path")

    ref_out = str(tmp_path / "stats_ref2.json")
    monkeypatch.setattr(DataFrame, "count", boom)
    _run(
        main,
        ["--input", src, "--stats-out", ref_out, "--ids-per-group", "3",
         "--style", "reference"],
        monkeypatch, capsys,
    )
    import json

    with open(ref_out) as f:
        doc = json.load(f)
    assert doc["totalProcessed"] > 0 and doc["totalSampled"] > 0


def test_run_dataset_cli(spark, tmp_path, monkeypatch, capsys):
    """§2.11 as a command: dedup → quality gate → split → stratified
    sample → pack → epoch shuffle composed by run_dataset, per-stage
    counts riding the single write as Observation metrics."""
    import json

    rows = []
    base = ("the quick brown fox jumps over the lazy dog and then some more "
            "words follow here")
    for i in range(60):
        lang = "en" if i % 2 == 0 else "de"
        rows.append((i, f"{base} variant {i}", lang))
    rows.append((100, rows[0][1], "en"))   # exact clone of doc 0 → deduped
    rows.append((101, "!!! ??? ...", "en"))  # fails the quality gate
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    src = str(tmp_path / "docs")
    out = str(tmp_path / "out")
    df.write.parquet(src)

    from jobs.run_dataset import main

    printed = _run(
        main,
        ["--input", src, "--output", out,
         "--dedup", "exact", "--quality-gate",
         "--split", "train=0.8,val=0.2",
         "--sample-strata", "lang", "--sample-fractions", "en=1.0,de=1.0",
         "--pack", "64", "--shuffle-seed", "7", "--hash", "md5"],
        monkeypatch, capsys,
    )
    summary = json.loads(printed.strip().splitlines()[-1])
    assert summary["rows_in"] == 62
    assert summary["rows_after_dedup"] == 61      # clone collapsed
    assert summary["rows_after_quality"] == 60    # junk row gated
    assert summary["rows_after_sample"] == 60     # 1.0 fractions keep all
    written = spark.read.parquet(out)
    assert written.count() == 60
    assert {"split", "bucket", "seq_idx", "oversize", "n_tokens"} <= set(
        written.columns
    )
    assert set(r["split"] for r in written.select("split").distinct().collect()) <= {
        "train", "val"
    }
    # packing respected the cap (no multi-doc sequence over 64 tokens)
    from oplog_analyzer_spark.functions.packing import sequence_stats

    stats = sequence_stats(written).collect()
    for r in stats:
        assert r["total_tokens"] <= 64 or r["n_docs"] == 1


def _dataset_corpus(spark, tmp_path) -> str:
    base = ("the quick brown fox jumps over the lazy dog and then some more "
            "words follow here")
    rows = [(i, f"{base} variant {i % 20}", "en") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    src = str(tmp_path / "docs_src")
    df.write.mode("overwrite").parquet(src)
    return src


def test_run_dataset_rejects_mismatched_strategy_flags(spark, tmp_path, monkeypatch):
    """Strategy-specific knobs with the wrong --dedup must be an argparse
    error, not a silent ignore (VERDICT r05 #2: --dedup simhash used to
    swallow --dedup-threshold/--max-bucket)."""
    import pytest

    src = _dataset_corpus(spark, tmp_path)
    out = str(tmp_path / "out_rej")
    from jobs.run_dataset import main

    bad_argvs = [
        ["--dedup", "simhash", "--dedup-threshold", "0.8"],   # jaccard knob
        ["--dedup", "simhash", "--max-bucket", "100"],
        ["--dedup", "exact", "--dedup-threshold", "0.8"],
        ["--dedup", "exact", "--dedup-policy", "component_min"],  # no pair graph
        ["--dedup-policy", "greedy"],                             # no --dedup
        ["--dedup", "ngram", "--minhash-hashes", "16"],
        ["--dedup", "minhash", "--simhash-hamming", "2"],
        ["--simhash-blocks", "8"],                            # no --dedup at all
        ["--pack-buckets", "8"],                              # no --pack
        ["--decontam-ngram", "3"],                            # no --decontam
        ["--decontam-min-hits", "2"],
        ["--mix-domain", "lang"],                             # no --mix-weights
        ["--mix-weights", "en=0.5"],                          # non-integer share
        ["--dedup", "ngram", "--dedup-threshold", "0.5",
         "--cluster-report", "/tmp/x"],                       # greedy: no clusters
        ["--chunk-stride", "8"],                              # no --chunk
        ["--min-chunk-tokens", "4"],
        ["--span-policy", "drop_all"],                        # no --span-dedup
        ["--trigram-top-k", "100"],                           # no --trigram-gate
        ["--bpe-vocab-words", "100"],                         # no --bpe-merges
        ["--gopher-min-words", "10"],                         # no --gopher-gate
        ["--gopher-min-stopwords", "1"],
        ["--semdedup-threshold", "0.8"],                      # no --semdedup
        ["--semdedup-clusters", "4"],
        ["--semdedup-max-cluster", "10"],
        ["--dsir-target", "lang=en"],                         # no --dsir-select
        ["--dsir-buckets", "32"],
        ["--dsir-select", "5"],                               # missing target
        ["--dsir-select", "5", "--dsir-target", "lang"],      # malformed
        ["--sem-decontam-threshold", "0.5"],                  # no --sem-decontam
        ["--sem-decontam-emb", "x.parquet"],
        ["--sem-decontam-vec-id", "vec_id"],
        ["--sem-decontam-vec-col", "embedding"],
        ["--sem-decontam", "x.parquet"],                      # missing --sem-decontam-emb
        ["--temp-mix-domain", "lang"],                        # no --temp-mix
        ["--temp-mix-budget", "100"],
        ["--temp-mix", "0.5"],                                # missing domain
        ["--clean-form", "NFKC"],                             # no --clean-text
        ["--pack-report"],                                    # no --pack
    ]
    for extra in bad_argvs:
        monkeypatch.setattr(sys, "argv",
                            ["prog", "--input", src, "--output", out, *extra])
        with pytest.raises(SystemExit):
            main()


def test_run_dataset_per_strategy_happy_paths(spark, tmp_path, monkeypatch, capsys):
    """One run per dedup strategy with its OWN knobs: the CLI contract the
    rejection test polices must also accept the matched combinations."""
    import json

    src = _dataset_corpus(spark, tmp_path)
    from jobs.run_dataset import main

    cases = [
        ["--dedup", "minhash", "--dedup-threshold", "0.7",
         "--minhash-hashes", "16", "--minhash-bands", "4", "--max-bucket", "64"],
        ["--dedup", "simhash", "--simhash-hamming", "3",
         "--simhash-blocks", "8", "--match-blocks", "5"],
        ["--dedup", "ngram", "--dedup-threshold", "0.9"],
        ["--dedup", "ngram", "--dedup-threshold", "0.5",
         "--dedup-policy", "component_min"],
        ["--dedup", "ngram", "--dedup-threshold", "0.5",
         "--dedup-policy", "keep_best"],
        ["--pack", "64", "--pack-buckets", "4"],
        ["--mix-domain", "lang", "--mix-weights", "en=3"],
        ["--chunk", "8", "--chunk-stride", "6", "--pack", "16"],
        ["--span-dedup", "8", "--span-policy", "drop_all"],
        ["--trigram-gate", "5000", "--trigram-top-k", "200"],
        ["--bpe-merges", "20", "--bpe-vocab-words", "500", "--pack", "32"],
        # 18-word docs with 2 GOPHER_STOPWORDS types pass the full rule set
        # once the word-count floor is corpus-tuned
        ["--gopher-gate", "--gopher-min-words", "10"],
        ["--dsir-select", "25", "--dsir-target", "lang=en",
         "--dsir-buckets", "32"],
    ]
    for i, extra in enumerate(cases):
        out = str(tmp_path / f"out_ok_{i}")
        printed = _run(main, ["--input", src, "--output", out, *extra],
                       monkeypatch, capsys)
        summary = json.loads(printed.strip().splitlines()[-1])
        assert summary["rows_in"] == 40
        assert spark.read.parquet(out).count() >= 1
    # component policies + --cluster-report write the duplication histogram
    out = str(tmp_path / "out_creport")
    rep = str(tmp_path / "creport")
    printed = _run(main, ["--input", src, "--output", out,
                          "--dedup", "ngram", "--dedup-threshold", "0.5",
                          "--dedup-policy", "component_min",
                          "--cluster-report", rep], monkeypatch, capsys)
    hist = spark.read.parquet(rep)
    assert set(hist.columns) == {"cluster_size", "n_clusters", "n_docs"}
    assert hist.count() >= 1

    # explicit --pack-buckets pins bucket ids under the given count
    packed = spark.read.parquet(str(tmp_path / "out_ok_5"))
    assert packed.agg({"bucket": "max"}).collect()[0][0] < 4

    # the gopher gate actually gates: an unreachable word-count floor
    # empties the corpus, and the stage count says so
    out = str(tmp_path / "out_gopher_all")
    printed = _run(main, ["--input", src, "--output", out, "--gopher-gate",
                          "--gopher-min-words", "19"], monkeypatch, capsys)
    summary = json.loads(printed.strip().splitlines()[-1])
    assert summary["rows_in"] == 40 and summary["rows_after_gopher"] == 0


def test_run_dataset_decontam_repetition_redact_stages(
    spark, tmp_path, monkeypatch, capsys
):
    """The r6 hygiene stages compose: decontamination drops eval-overlapping
    docs first (observed in the summary), the repetition gate drops the
    planted spam doc, and --redact-pii rewrites the text column in place
    without changing the schema."""
    import json

    base = ("the quick brown fox jumps over the lazy dog and then some more "
            "words follow here")
    rows = [(i, f"{base} variant {i % 20}", "en") for i in range(40)]
    # planted: one doc that IS an eval prompt, one pure-repetition doc
    rows += [(100, "what is the capital of assyria in the bronze age era", "en"),
             (101, "spam spam spam spam spam spam spam spam spam spam", "en")]
    src = str(tmp_path / "docs_src6")
    spark.createDataFrame(rows, "doc_id long, text string, lang string") \
        .write.mode("overwrite").parquet(src)
    bench = str(tmp_path / "bench6")
    spark.createDataFrame(
        [(0, "tell me what is the capital of assyria please")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(bench)

    from jobs.run_dataset import main

    out = str(tmp_path / "out_hyg")
    printed = _run(
        main,
        ["--input", src, "--output", out,
         "--decontam", bench, "--decontam-ngram", "3",
         "--repetition-gate", "--redact-pii"],
        monkeypatch, capsys,
    )
    summary = json.loads(printed.strip().splitlines()[-1])
    assert summary["rows_in"] == 42
    assert summary["rows_after_decontam"] == 41      # doc 100 contaminated
    assert summary["rows_after_repetition"] == 40    # doc 101 repetitive
    written = spark.read.parquet(out)
    assert written.count() == 40
    assert set(written.columns) == {"doc_id", "text", "lang"}
    assert sorted(r["doc_id"] for r in written.collect()) == list(range(40))


def test_run_dedup_stream_cli(spark, tmp_path, monkeypatch, capsys):
    """Drain mode: two invocations over a growing dir accumulate (resume via
    checkpoint), the printed report carries cumulative totals; continuous-
    only flags are rejected without --continuous; a continuous run with a
    pre-existing stop file drains immediately instead of blocking."""
    import os

    import pytest

    from jobs.run_dedup_stream import main

    input_dir = str(tmp_path / "feed")
    work = str(tmp_path / "ddwork")
    os.makedirs(input_dir)

    def land(rows, name):
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        stage = str(tmp_path / ("stg_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.rename(os.path.join(stage, f),
                          os.path.join(input_dir, name + ".parquet"))

    land([(0, "aa bb"), (1, "aa  BB"), (2, "cc")], "f1")
    out = _run(main, ["--input", input_dir, "--work-dir", work], monkeypatch, capsys)
    assert "distinct_texts" in out and "duplicates_turned_away" in out

    land([(3, "aa bb"), (4, "dd")], "f2")
    out = _run(main, ["--input", input_dir, "--work-dir", work,
                      "--top-dups", "5"], monkeypatch, capsys)
    # cumulative: 5 docs seen, 3 distinct, 2 turned away
    assert "5" in out and "3" in out

    with pytest.raises(SystemExit):
        _run(main, ["--input", input_dir, "--work-dir", work,
                    "--stop-file", "/tmp/x"], monkeypatch, capsys)

    stop = str(tmp_path / "stop.marker")
    open(stop, "w").close()
    out = _run(main, ["--input", input_dir, "--work-dir", work,
                      "--continuous", "--stop-file", stop],
               monkeypatch, capsys)
    assert "STREAMING DEDUP" in out


def test_run_dedup_stream_neardup_mode(spark, tmp_path, monkeypatch, capsys):
    """--mode neardup: two drains accumulate minhash/LSH verdicts; knob
    contract rejects near-dup flags in exact mode and --top-dups in
    neardup mode."""
    import os

    import pytest

    from jobs.run_dedup_stream import main

    input_dir = str(tmp_path / "feed")
    work = str(tmp_path / "ndwork")
    os.makedirs(input_dir)

    def land(rows, name):
        df = spark.createDataFrame(
            [(i, t, "en", "s", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        stage = str(tmp_path / ("stg_" + name))
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        for f in os.listdir(stage):
            if f.endswith(".parquet"):
                os.rename(os.path.join(stage, f),
                          os.path.join(input_dir, name + ".parquet"))

    base = "the quick brown fox jumps over the lazy dog in the misty morning"
    land([(0, base), (1, base), (2, "totally different words here indeed")], "f1")
    out = _run(main, ["--input", input_dir, "--work-dir", work,
                      "--mode", "neardup"], monkeypatch, capsys)
    assert "STREAMING NEAR-DUP" in out and "rejected" in out

    land([(3, base)], "f2")  # cross-drain near-dup (exact clone)
    out = _run(main, ["--input", input_dir, "--work-dir", work,
                      "--mode", "neardup"], monkeypatch, capsys)
    # cumulative: 4 docs seen, 2 admitted (0 and 2), 2 rejected (1 and 3)
    assert "REJECTS PER BATCH" in out

    with pytest.raises(SystemExit):   # neardup knob without the mode
        _run(main, ["--input", input_dir, "--work-dir", work,
                    "--min-match", "10"], monkeypatch, capsys)
    with pytest.raises(SystemExit):   # exact knob in neardup mode
        _run(main, ["--input", input_dir, "--work-dir", work,
                    "--mode", "neardup", "--top-dups", "5"],
             monkeypatch, capsys)


def test_run_dataset_semdedup_and_dsir_stages(spark, tmp_path, monkeypatch, capsys):
    """--semdedup drops exactly the is_dup docs (planted identical-vector
    pairs) and --dsir-select keeps exactly K; stage counts in the summary
    line agree."""
    import json

    src = _dataset_corpus(spark, tmp_path)
    # 40 embeddings: ids 2k and 2k+1 share one vector -> 20 identical
    # pairs; with threshold 0.99 one of each pair must drop
    rows = [
        (i, [float((i // 2) % 5 + 1), float((i // 2) % 7 + 1),
             float((i // 2) % 3 + 1)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb_path = str(tmp_path / "emb")
    emb.write.mode("overwrite").parquet(emb_path)

    from jobs.run_dataset import main

    out = str(tmp_path / "out_semdedup")
    printed = _run(main, [
        "--input", src, "--output", out,
        "--semdedup", emb_path, "--semdedup-threshold", "0.999999",
        "--semdedup-clusters", "2",
    ], monkeypatch, capsys)
    summary = json.loads(printed.strip().splitlines()[-1])
    # ids (i//2)%5 / %7 / %3 collide across pairs too (vector repeats every
    # 210 half-ids), so at least the 20 planted twins drop
    assert summary["rows_in"] == 40
    assert summary["rows_after_semdedup"] <= 20
    assert summary["rows_after_semdedup"] >= 1
    kept = spark.read.parquet(out)
    assert kept.count() == summary["rows_after_semdedup"]

    out2 = str(tmp_path / "out_dsir")
    printed = _run(main, [
        "--input", src, "--output", out2,
        "--dsir-select", "7", "--dsir-target", "lang=en",
    ], monkeypatch, capsys)
    summary = json.loads(printed.strip().splitlines()[-1])
    assert summary["rows_after_dsir"] == 7
    assert spark.read.parquet(out2).count() == 7


def test_run_dataset_sem_decontam_stage(spark, tmp_path, monkeypatch, capsys):
    """--sem-decontam drops exactly the docs whose train vector cosines
    >= threshold against an eval vector; docs without a vector survive."""
    import json

    src = _dataset_corpus(spark, tmp_path)
    # train vectors: ids 0-9 point along x (contaminated vs eval [1,0]),
    # ids 10-19 along y (clean); ids 20-39 have NO vector (kept)
    train_rows = [(i, [1.0, 0.0]) for i in range(10)] + [
        (i, [0.0, 1.0]) for i in range(10, 20)
    ]
    emb = spark.createDataFrame(train_rows, "vec_id long, embedding array<double>")
    emb_path = str(tmp_path / "train_emb")
    emb.write.mode("overwrite").parquet(emb_path)
    ev = spark.createDataFrame(
        [(0, [2.0, 0.0])], "vec_id long, embedding array<double>"
    )
    ev_path = str(tmp_path / "eval_emb")
    ev.write.mode("overwrite").parquet(ev_path)

    from jobs.run_dataset import main

    out = str(tmp_path / "out_semdecon")
    printed = _run(main, [
        "--input", src, "--output", out,
        "--sem-decontam", ev_path, "--sem-decontam-emb", emb_path,
        "--sem-decontam-threshold", "0.9",
    ], monkeypatch, capsys)
    summary = json.loads(printed.strip().splitlines()[-1])
    assert summary["rows_in"] == 40
    assert summary["rows_after_sem_decontam"] == 30
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == list(range(10, 40))


def test_run_dataset_temp_mix_stage(spark, tmp_path, monkeypatch, capsys):
    """--temp-mix materializes a temperature-mixed epoch: replicas carry
    composite ids, the summary stage count matches the output, and the
    low-resource domain's share grows."""
    import json

    # skewed corpus: 32 'en' docs, 8 'fr'
    rows = [
        (i, f"doc number {i} some words here", "en" if i < 32 else "fr")
        for i in range(40)
    ]
    src = str(tmp_path / "docs_skew")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(src)

    from jobs.run_dataset import main

    out = str(tmp_path / "out_tempmix")
    printed = _run(main, [
        "--input", src, "--output", out,
        "--temp-mix", "0.5", "--temp-mix-domain", "lang",
        "--temp-mix-budget", "80",
    ], monkeypatch, capsys)
    summary = json.loads(printed.strip().splitlines()[-1])
    got = spark.read.parquet(out)
    n_out = got.count()
    assert summary["rows_after_temp_mix"] == n_out
    assert 60 <= n_out <= 100  # budget 80 within floor/hash slack
    ids = [r["doc_id"] for r in got.collect()]
    assert len(set(ids)) == len(ids)  # composite ids are unique
    assert all("#" in i for i in ids)
    fr = got.filter("lang = 'fr'").count()
    # fr is 20% of input; alpha=0.5 pushes its share up
    assert fr / n_out > 0.25


def test_run_dataset_clean_text_stage(spark, tmp_path, monkeypatch, capsys):
    """--clean-text makes byte-different encodings of the same rendered
    string collapse under downstream exact dedup: a decomposed clone of
    doc 0 survives dedup WITHOUT cleaning but is removed WITH it."""
    import json

    rows = [
        (0, "café menu du jour", "en"),        # precomposed
        (1, "café menu du jour", "en"),       # decomposed clone
        (2, "totally different text", "en"),
    ]
    src = str(tmp_path / "docs_unicode")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(src)

    from jobs.run_dataset import main

    out1 = str(tmp_path / "out_nodedupclean")
    printed = _run(main, ["--input", src, "--output", out1,
                          "--dedup", "exact"], monkeypatch, capsys)
    assert json.loads(printed.strip().splitlines()[-1])["rows_after_dedup"] == 3

    out2 = str(tmp_path / "out_cleaned")
    printed = _run(main, ["--input", src, "--output", out2,
                          "--clean-text", "--dedup", "exact"],
                   monkeypatch, capsys)
    assert json.loads(printed.strip().splitlines()[-1])["rows_after_dedup"] == 2
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert kept == [0, 2]


def test_run_dataset_pack_report(spark, tmp_path, monkeypatch, capsys):
    """--pack-report folds the utilization report into the summary line,
    reading the written output back (no upstream recompute), and the
    numbers satisfy the accounting identity."""
    import json

    src = _dataset_corpus(spark, tmp_path)
    from jobs.run_dataset import main

    out = str(tmp_path / "out_packrep")
    printed = _run(main, [
        "--input", src, "--output", out,
        "--pack", "64", "--pack-buckets", "4", "--pack-report",
    ], monkeypatch, capsys)
    s = json.loads(printed.strip().splitlines()[-1])
    assert s["pack_n_docs_packed"] + s["pack_n_oversize"] == s["rows_in"]
    assert s["pack_padding_tokens"] == (
        s["pack_n_seqs"] * 64 - s["pack_total_tokens_packed"]
    )
    assert 0 < s["pack_utilization_x10000"] <= 10000


def test_run_dataset_output_shards(spark, tmp_path, monkeypatch, capsys):
    """--output-shards pins the output file count; with --shuffle-seed the
    global row order equals the plain orderBy shuffle (range partitions
    are ordered), just materialized in N files."""
    import glob

    src = _dataset_corpus(spark, tmp_path)
    from jobs.run_dataset import main
    from oplog_analyzer_spark.functions.packing import shuffle_deterministic

    out = str(tmp_path / "out_shards")
    _run(main, ["--input", src, "--output", out,
                "--shuffle-seed", "7", "--output-shards", "3"],
         monkeypatch, capsys)
    files = sorted(glob.glob(out + "/part-*.parquet"))
    assert len(files) == 3
    # global order across lexically-ordered shard files == plain orderBy
    got = [r["doc_id"] for f in files for r in spark.read.parquet(f).collect()]
    want = [
        r["doc_id"]
        for r in shuffle_deterministic(
            spark.read.parquet(src), "doc_id", seed=7
        ).collect()
    ]
    assert got == want

    out2 = str(tmp_path / "out_shards_noshuffle")
    _run(main, ["--input", src, "--output", out2, "--output-shards", "2"],
         monkeypatch, capsys)
    assert len(glob.glob(out2 + "/part-*.parquet")) == 2


def test_run_dataset_full_r6_chain(spark, tmp_path, monkeypatch, capsys):
    """The whole r6 stage chain in ONE command — clean-text, n-gram +
    semantic decontam, minhash dedup, SemDeDup, quality gate, DSIR
    selection, split, temperature mixing, pack + report, shuffle,
    sharded output — exercising the stage interactions (composite ids
    into pack, stage counts monotone, report identity on the final
    output)."""
    import json

    base = ("the quick brown fox jumps over the lazy dog and then some "
            "more words follow here")
    # three variant-specific tokens so cross-variant jaccard lands ~0.71
    # (< the 0.8 dedup threshold); same-variant docs stay exact clones
    rows = [
        (i, f"{base} variant {i % 31} alpha{i % 31} beta{i % 31}",
         "en" if i % 4 else "fr")
        for i in range(60)
    ]
    # doc 1 carries a trigram found ONLY in the eval corpus (the shared
    # base text must not contaminate everything)
    rows[1] = (1, rows[1][1] + " zebra quagga okapi tapir", rows[1][2])
    rows.append((100, rows[0][1], "en"))  # exact clone → minhash dedup
    src = str(tmp_path / "docs_chain")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(src)

    # eval corpus for n-gram decontam: disjoint vocabulary except doc 1's
    # planted marker trigrams
    ev = str(tmp_path / "eval_chain")
    spark.createDataFrame(
        [(0, "held out zebra quagga okapi tapir benchmark prompt")],
        "doc_id long, text string",
    ).write.mode("overwrite").parquet(ev)

    # embeddings: train vectors for ids 0-60 (id 2 matches eval vector →
    # sem-decontam drop; ids 3/7 share a vector → semdedup drops one)
    emb_rows = [(i, [float(i % 13 + 1), float(i % 7 + 1)]) for i in range(61)]
    emb_rows[2] = (2, [9.0, 0.0])
    emb_rows[7] = (7, emb_rows[3][1])
    tr_emb = str(tmp_path / "train_emb_chain")
    spark.createDataFrame(
        emb_rows, "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(tr_emb)
    ev_emb = str(tmp_path / "eval_emb_chain")
    spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<double>"
    ).write.mode("overwrite").parquet(ev_emb)

    from jobs.run_dataset import main

    out = str(tmp_path / "out_chain")
    printed = _run(main, [
        "--input", src, "--output", out,
        "--clean-text",
        "--decontam", ev,
        "--sem-decontam", ev_emb, "--sem-decontam-emb", tr_emb,
        "--sem-decontam-threshold", "0.9999",
        "--dedup", "minhash", "--dedup-threshold", "0.8",
        "--semdedup", tr_emb, "--semdedup-threshold", "0.999999",
        "--semdedup-clusters", "2",
        "--quality-gate",
        "--dsir-select", "40", "--dsir-target", "lang=en",
        "--split", "train=0.8,val=0.2",
        "--temp-mix", "0.5", "--temp-mix-domain", "lang",
        "--pack", "64", "--pack-buckets", "4", "--pack-report",
        "--shuffle-seed", "7", "--output-shards", "2",
        "--hash", "md5",
    ], monkeypatch, capsys)
    s = json.loads(printed.strip().splitlines()[-1])

    assert s["rows_in"] == 61
    # doc 1 dropped by n-gram decontam; doc 2 by semantic decontam
    assert s["rows_after_decontam"] == 60
    assert s["rows_after_sem_decontam"] == 59
    # clean-text ran before dedup; minhash removes the planted clone,
    # semdedup one of the vector twins
    assert s["rows_after_dedup"] <= 58
    assert s["rows_after_semdedup"] <= s["rows_after_dedup"] - 1
    assert s["rows_after_dsir"] == min(40, s["rows_after_quality"])
    # stage counts monotone until temperature mixing (which replicates)
    order = ["rows_in", "rows_after_decontam", "rows_after_sem_decontam",
             "rows_after_dedup", "rows_after_semdedup",
             "rows_after_quality", "rows_after_dsir"]
    assert all(s[a] >= s[b] for a, b in zip(order, order[1:]))

    got = spark.read.parquet(out)
    assert got.count() == s["rows_after_temp_mix"]
    # composite replica ids flowed into pack: every row has a slot
    assert {"bucket", "seq_idx", "oversize", "split"} <= set(got.columns)
    assert got.filter("split NOT IN ('train', 'val')").count() == 0
    # pack-report identity on the written output
    assert s["pack_padding_tokens"] == (
        s["pack_n_seqs"] * 64 - s["pack_total_tokens_packed"]
    )
    assert s["pack_n_docs_packed"] + s["pack_n_oversize"] == (
        s["rows_after_temp_mix"]
    )


def test_run_dataset_dedup_against_stage(spark, tmp_path, monkeypatch, capsys):
    """--dedup-against drops new docs that exact- or near-match the base
    snapshot, keeps genuinely new content, and unlocks the minhash knobs
    without --dedup."""
    import json

    base_txt = ("the quick brown fox jumps over the lazy dog and then "
                "some more words follow here")
    base = spark.createDataFrame(
        [(i, f"{base_txt} item {i} x{i} y{i}") for i in range(20)],
        "doc_id long, text string",
    )
    base_path = str(tmp_path / "base_snapshot")
    base.write.mode("overwrite").parquet(base_path)

    new_rows = (
        # exact copies of base 0-4 → drop
        [(1000 + i, f"{base_txt} item {i} x{i} y{i}", "en") for i in range(5)]
        # near-dups of base 5-9 (one appended token) → drop at 0.5
        + [(2000 + i, f"{base_txt} item {i} x{i} y{i} qq", "en")
           for i in range(5, 10)]
        # fresh docs → keep
        + [(3000 + i, f"completely different content piece number {i} "
            f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i} zeta{i}", "en")
           for i in range(7)]
    )
    src = str(tmp_path / "new_docs")
    spark.createDataFrame(
        new_rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(src)

    from jobs.run_dataset import main

    out = str(tmp_path / "out_against")
    printed = _run(main, [
        "--input", src, "--output", out,
        "--dedup-against", base_path, "--dedup-threshold", "0.5",
        "--minhash-hashes", "16", "--minhash-bands", "4",
    ], monkeypatch, capsys)
    s = json.loads(printed.strip().splitlines()[-1])
    assert s["rows_in"] == 17
    assert s["rows_after_dedup_against"] == 7
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [3000 + i for i in range(7)]


def test_run_dataset_temp_mix_scopes_to_train_split(spark, tmp_path, monkeypatch, capsys):
    """With --split, --temp-mix applies to the train split only by default
    (ADVICE r06): eval rows pass through exactly once, un-replicated and
    un-thinned, with their original (non-composite) ids."""
    import json

    rows = [
        (i, f"doc number {i} some words here", "en" if i < 32 else "fr")
        for i in range(40)
    ]
    src = str(tmp_path / "docs_skew2")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(src)

    from jobs.run_dataset import main

    out = str(tmp_path / "out_tempmix_split")
    printed = _run(main, [
        "--input", src, "--output", out,
        "--split", "train=0.5,val=0.5",
        "--temp-mix", "0.5", "--temp-mix-domain", "lang",
        "--temp-mix-budget", "40",
    ], monkeypatch, capsys)
    summary = json.loads(printed.strip().splitlines()[-1])
    got = spark.read.parquet(out)
    assert summary["rows_after_temp_mix"] == got.count()
    val = got.filter("split = 'val'")
    train = got.filter("split = 'train'")
    # val rows untouched: original ids, exactly the split's rows
    val_ids = [r["doc_id"] for r in val.collect()]
    assert val_ids and all("#" not in str(i) for i in val_ids)
    assert len(set(val_ids)) == len(val_ids)
    # train rows are the mixed epoch: composite ids
    train_ids = [str(r["doc_id"]) for r in train.collect()]
    assert train_ids and all("#" in i for i in train_ids)
