"""Framed binary source (S3), stats JSON roundtrip (S7/S9/J2), display
helpers (P10/S8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from oplog_analyzer_spark.operators.display import console_report, humanize_bytes
from oplog_analyzer_spark.sources.framed import read_framed, write_framed_file
from oplog_analyzer_spark.sources.stats_json import (
    join_stats,
    read_stats_json,
    write_stats_json,
)


def test_framed_roundtrip_plain_and_gzip(spark, tmp_path):
    payloads_a = [b"hello", b"world doc here", b"x" * 100]
    payloads_b = [b"other shard data!", b"12345"]
    write_framed_file(str(tmp_path / "oplog_rs0.bin"), payloads_a, compress=False)
    write_framed_file(str(tmp_path / "oplog_rs1.bin.gz"), payloads_b, compress=True)

    df = read_framed(spark, str(tmp_path / "*.bin*"))
    rows = df.collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append((r["seq"], bytes(r["payload"])))
    assert sorted(by_shard) == ["rs0", "rs1"]
    assert [p for _, p in sorted(by_shard["rs0"])] == payloads_a
    assert [p for _, p in sorted(by_shard["rs1"])] == payloads_b  # gzip transparent


def test_framed_rejects_bad_frame(spark, tmp_path):
    # frame below the 5-byte sanity floor (BaseOplogCommand.java:347)
    write_framed_file(str(tmp_path / "bad_rs9.bin"), [b"abc"])
    with pytest.raises(Exception, match="invalid frame size"):
        read_framed(spark, str(tmp_path / "bad_rs9.bin")).collect()


def test_stats_json_roundtrip_and_join(spark, tmp_path):
    report = spark.createDataFrame(
        [("s0", 100, 5000), ("s1", 200, 9000)], "shard string, count long, bytes long"
    )
    out = str(tmp_path / "stats")
    write_stats_json(report, out)
    loaded = read_stats_json(spark, out)
    assert {(r["shard"], r["count"], r["bytes"]) for r in loaded.collect()} == {
        ("s0", 100, 5000), ("s1", 200, 9000),
    }
    # J2: authoritative stats override sample-derived values where present
    facts = spark.createDataFrame(
        [("s0", 1, "a"), ("s2", 2, "b")], "shard string, count long, label string"
    )
    joined = {r["shard"]: r["count"] for r in join_stats(facts, loaded, ["shard"]).collect()}
    assert joined == {"s0": 100, "s2": 2}  # s0 replaced, s2 falls back


def test_reference_stats_json_golden(spark):
    """Byte-exact parity with SampleCommand.writeStatsAsJson (java:548-592):
    nested shard→collections document, shards ascending, collections by
    totalBytes desc, ``ns.op`` keys, integer avgBytes, the reference's
    exact indentation and comma placement."""
    from oplog_analyzer_spark.sources.stats_json import reference_stats_json

    per_shard = spark.createDataFrame(
        [
            ("shard1", "db.b", "u", 2, 2048, 1000, 1048),
            ("shard0", "db.a", "i", 3, 31, 5, 15),
            ("shard0", "db.c", "d", 1, 100, 100, 100),
        ],
        "shard string, ns string, op string, count long, total_size long, "
        "min_size long, max_size long",
    )
    got = reference_stats_json(
        per_shard,
        total_processed=10,
        total_sampled=6,
        sampling_period="oplog_sample",
        timestamp="2026-08-17T00:00:00Z",
        processed_ops={"shard0": 7, "shard1": 3},
    )
    want = "\n".join([
        "{",
        '  "timestamp": "2026-08-17T00:00:00Z",',
        '  "samplingPeriod": "oplog_sample",',
        '  "totalProcessed": 10,',
        '  "totalSampled": 6,',
        '  "shards": {',
        '    "shard0": {',
        '      "processedOps": 7,',
        '      "collections": {',
        '        "db.c.d": {',
        '          "count": 1,',
        '          "totalBytes": 100,',
        '          "avgBytes": 100,',
        '          "minBytes": 100,',
        '          "maxBytes": 100',
        "        },",
        '        "db.a.i": {',
        '          "count": 3,',
        '          "totalBytes": 31,',
        '          "avgBytes": 10,',  # 31/3 integer division
        '          "minBytes": 5,',
        '          "maxBytes": 15',
        "        }",
        "      }",
        "    },",
        '    "shard1": {',
        '      "processedOps": 3,',
        '      "collections": {',
        '        "db.b.u": {',
        '          "count": 2,',
        '          "totalBytes": 2048,',
        '          "avgBytes": 1024,',
        '          "minBytes": 1000,',
        '          "maxBytes": 1048',
        "        }",
        "      }",
        "    }",
        "  }",
        "}",
    ]) + "\n"
    assert got == want
    import json as _json

    parsed = _json.loads(got)  # and it is valid JSON
    assert parsed["shards"]["shard0"]["collections"]["db.a.i"]["avgBytes"] == 10


def test_humanize_bytes(spark):
    df = spark.createDataFrame(
        [(500,), (2048,), (3 * 1024 * 1024,), (5 * 1024**3,)], "b long"
    )
    got = [r["h"] for r in df.select(humanize_bytes("b").alias("h")).collect()]
    assert got == ["500 B", "2.0 KB", "3.0 MB", "5.0 GB"]


def test_console_report(spark):
    df = spark.createDataFrame([("a.b", 10), ("c.d", 5)], "ns string, count long")
    text = console_report(df.orderBy(F.desc("count")))
    lines = text.splitlines()
    assert lines[0].split() == ["ns", "count"]
    assert "a.b" in lines[2] and "c.d" in lines[3]


def test_console_report_reference_style_golden(spark):
    """S8 byte-exact parity: header/separator/rows must match the
    reference's format strings verbatim (EntryAccumulator.java:77-177 —
    %-50s %2s %10s %10s %10s %10s %12s, US-grouped counts,
    formatSizeWithPrecision min/max/avg with HALF_UP tenths, commons-io
    byteCountToDisplaySize totals, N/A element columns)."""
    from oplog_analyzer_spark.operators.display import reference_report

    df = spark.createDataFrame(
        [
            ("db0.coll1", "i", 1234, 123456, 17, 5000, 0, 0, 0, 0),
            ("db1.c", "u", 2, 2048, 1024, 1024, 2, 7, 2, 3),
        ],
        "ns string, op string, count long, total_size long, min_size long, "
        "max_size long, documents_with_elements long, total_elements long, "
        "documents_with_diff long, total_diff_fields long",
    )
    got = reference_report(df)
    want = "\n".join([
        "Namespace                                          op      count        min        max        avg   total size  avg elems  avg diffs",
        "================================================== == ========== ========== ========== ========== ============ ========== ==========",
        "db0.coll1                                           i      1,234       17 B     4.9 KB      100 B       120 KB        N/A        N/A",
        "db1.c                                               u          2     1.0 KB     1.0 KB     1.0 KB         2 KB        3.5        1.5",
    ])
    assert got == want
    # middle truncation of an over-wide namespace (java:117-128)
    long_ns = "averyveryverylongdatabasenamehere.withaverylongcollectionname"
    df2 = spark.createDataFrame(
        [(long_ns, "d", 1, 10, 10, 10)],
        "ns string, op string, count long, total_size long, min_size long, max_size long",
    )
    row = reference_report(df2).splitlines()[2]
    assert row.startswith("averyveryverylong"[:16] + "..." + long_ns[-12:])
    # binary-double tie parity (ADVICE r03): 7/20 is decimal 0.35 but
    # double 0.3499999999999999778 — Java %.1f prints "0.3"; 1/8 = 0.125
    # exactly representable → "0.1"
    df3 = spark.createDataFrame(
        [("db2.t", "d", 1, 10, 10, 10, 20, 7, 8, 1)],
        "ns string, op string, count long, total_size long, min_size long, "
        "max_size long, documents_with_elements long, total_elements long, "
        "documents_with_diff long, total_diff_fields long",
    )
    tie_row = reference_report(df3).splitlines()[2]
    assert tie_row.split()[-2:] == ["0.3", "0.1"]


def test_per_sink_aggregates_matches_reference(spark):
    """per_sink_aggregates equals the straightforward single groupBy in
    rows AND schema (names, types, nullability), INCLUDING null
    ns/category groups, on a local relation and on a computed (joined)
    frame."""
    from oplog_analyzer_spark.sources.sinks import per_sink_aggregates

    rows = []
    for i in range(200):
        rows.append(
            (
                None if i % 17 == 0 else f"cat{i % 3}",
                None if i % 23 == 0 else f"db.c{i % 5}",
                f"conv{i % 40}",
                "iudc"[i % 4],
                i * 10,
            )
        )
    routed = spark.createDataFrame(
        rows, "category string, ns string, conv_id string, op string, size long"
    ).withColumn("ts", F.timestamp_seconds(F.col("size") + 1_600_000_000))

    def reference(df):
        return df.groupBy("category", "ns").agg(
            F.count(F.lit(1)).alias("op_count"),
            F.sum(F.when(F.col("op") == "i", 1).otherwise(0)).alias("n_insert"),
            F.sum(F.when(F.col("op") == "u", 1).otherwise(0)).alias("n_update"),
            F.sum(F.when(F.col("op") == "d", 1).otherwise(0)).alias("n_delete"),
            F.sum(F.when(F.col("op") == "c", 1).otherwise(0)).alias("n_command"),
            F.countDistinct("conv_id").alias("distinct_conv"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            F.sum("size").alias("total_bytes"),
        )

    got, ref = per_sink_aggregates(routed), reference(routed)
    assert got.schema == ref.schema
    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0
    # null groups present and matched (9 null-category groups in the data)
    assert got.filter(F.col("category").isNull()).count() > 0
    assert got.filter(F.col("ns").isNull()).count() > 0

    dim = spark.sql("SELECT * FROM VALUES ('cat0', 'g0') AS t(category, grp)")
    computed = routed.join(dim, "category").drop("grp")
    got2, ref2 = per_sink_aggregates(computed), reference(computed)
    assert got2.schema == ref2.schema
    assert got2.exceptAll(ref2).count() == 0
    assert ref2.exceptAll(got2).count() == 0
