"""Unit tests per SURVEY.md §2 operator, mirroring the reference's semantic
quirks: floor-division avg (EntryAccumulator.java:82), -1 doc-size sentinel
exclusion (TailCommand.java:176-181), integer-division applyOps size split
(TailCommand.java:657), two-threshold independence (README.md:412-431)."""

from __future__ import annotations

from pyspark.sql import functions as F

from oplog_analyzer_spark.operators import aggregate as A
from oplog_analyzer_spark.operators import filters as FL
from oplog_analyzer_spark.operators import windows as W


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_ns_op_report_floor_avg(spark):
    df = _mk(
        spark,
        [("a.b", "i", 10), ("a.b", "i", 5), ("a.b", "u", 7)],
        "ns string, op string, size long",
    )
    out = {(r["ns"], r["op"]): r for r in A.ns_op_report(df).collect()}
    r = out[("a.b", "i")]
    # avg = floor(15/2) = 7, not 7.5 (EntryAccumulator.java:82)
    assert (r["count"], r["total_size"], r["min_size"], r["max_size"], r["avg_size"]) == (
        2, 15, 5, 10, 7,
    )
    assert out[("a.b", "u")]["avg_size"] == 7


def test_threshold_buckets_strictly_greater(spark):
    df = _mk(spark, [("a", "i", 10), ("a", "i", 11)], "ns string, op string, size long")
    r = A.ns_op_report(df, buckets=(10,)).collect()[0]
    # strictly greater: size==10 not counted (EntryAccumulator.java:65-70)
    assert r["gt_10"] == 1


def test_conditional_averages_skip_nonpositive(spark):
    df = _mk(
        spark,
        [("a", "u", 1, 4), ("a", "u", 1, 0), ("a", "u", 1, 2)],
        "ns string, op string, size long, elems int",
    )
    r = A.ns_op_report(df, elements_col="elems").collect()[0]
    assert r["avg_elements"] == 3.0  # (4+2)/2, zero-rows excluded


def test_conditional_averages_both_columns(spark):
    """A4 twin columns (EntryAccumulator.java:55-63, 94-107): elements and
    diff-field conditionals computed independently in one report — each
    skips its own nonpositive rows."""
    df = _mk(
        spark,
        [("a", "u", 1, 4, 0), ("a", "u", 1, 0, 3), ("a", "u", 1, 2, 5)],
        "ns string, op string, size long, elems int, dfields int",
    )
    r = A.ns_op_report(df, elements_col="elems", diff_fields_col="dfields").collect()[0]
    assert r["avg_elements"] == 3.0  # (4+2)/2
    assert r["avg_diff_fields"] == 4.0  # (3+5)/2
    assert r["count"] == 3


def test_id_stats_sentinel_exclusion(spark):
    df = _mk(
        spark,
        [("a", "x", 10, 100), ("a", "x", 20, -1), ("a", "x", 30, 200)],
        "ns string, id string, size long, doc_size long",
    )
    r = A.id_stats(df, doc_size_col="doc_size").collect()[0]
    # -1 rows excluded from doc-size aggregates, included in count/oplog
    assert r["count"] == 3
    assert r["total_oplog_size"] == 60
    assert (r["total_doc_size"], r["min_doc_size"], r["max_doc_size"]) == (300, 100, 200)
    assert r["doc_size_count"] == 2


def test_top_k_ids_deterministic(spark):
    rows = [("a", f"id{i}", 1) for i in range(5)] + [("a", "id1", 1), ("a", "id3", 1)]
    df = _mk(spark, rows, "ns string, id string, size long")
    top = A.top_k_ids(A.id_stats(df), k=2).collect()
    assert [(r["id"], r["count"]) for r in top] == [("id1", 2), ("id3", 2)]


def test_two_threshold_independence(spark):
    """F5 flags but never filters; F6 independently gates the id-stats
    branch (reference README.md:412-431)."""
    df = _mk(
        spark,
        [("a", "x", 5), ("a", "x", 15), ("a", "y", 25)],
        "ns string, id string, size long",
    )
    flagged = FL.threshold_flag(df, 20)
    assert flagged.count() == 3  # side output, nothing dropped
    assert flagged.filter("over_threshold").count() == 1
    gated = FL.id_stats_threshold(df, 10)
    assert gated.count() == 2


def test_per_shard_limit(spark):
    rows = [(s, i, f"t{i}") for s in ("s0", "s1") for i in range(5)]
    df = _mk(spark, rows, "shard string, ts int, v string")
    out = FL.per_shard_limit(df, 2, "shard", "ts")
    got = sorted((r["shard"], r["ts"]) for r in out.collect())
    assert got == [("s0", 0), ("s0", 1), ("s1", 0), ("s1", 1)]


def test_shard_grouping_sets_has_global_rows(spark):
    df = _mk(
        spark,
        [("s0", "a", "i", 1), ("s1", "a", "i", 3)],
        "shard string, ns string, op string, size long",
    )
    rows = A.shard_grouping_sets(df, "shard").collect()
    per_shard = {r["shard"]: r for r in rows if r["shard"] is not None}
    global_rows = [r for r in rows if r["shard"] is None]
    assert per_shard["s0"]["count"] == 1 and per_shard["s1"]["count"] == 1
    assert len(global_rows) == 1 and global_rows[0]["count"] == 2
    assert global_rows[0]["total_size"] == 4


def test_first_n_distinct_admission(spark):
    """A9/W3 — first-N distinct ids admitted, later rows of admitted ids
    still kept (SampleCommand.java:275-290)."""
    rows = [
        ("s", "ns", "id1", 1), ("s", "ns", "id2", 2), ("s", "ns", "id3", 3),
        ("s", "ns", "id1", 4),  # admitted id seen again → kept
    ]
    df = _mk(spark, rows, "shard string, ns string, id string, ts int")
    out = W.first_n_distinct_per_group(df, ["shard", "ns"], "id", 2)
    kept = sorted((r["id"], r["ts"]) for r in out.collect())
    assert kept == [("id1", 1), ("id1", 4), ("id2", 2)]


def test_conditional_id_extraction(spark):
    from oplog_analyzer_spark.operators.parse import conditional_id

    df = _mk(
        spark,
        [("u", "id_from_o2", "id_from_o"), ("i", "x", "id_from_o")],
        "op string, o2_id string, o_id string",
    )
    got = {r["op"]: r["id"] for r in conditional_id(df).collect()}
    # updates take o2._id, everything else o._id (BaseOplogCommand.java:132)
    assert got == {"u": "id_from_o2", "i": "id_from_o"}


def test_redact_diff(spark):
    from oplog_analyzer_spark.operators.parse import redact_diff

    df = _mk(
        spark,
        [(0, 'x diff={"a":1,"b":[1,2]} tail'), (1, "no diff here")],
        "i long, text string",
    )
    got = {r["i"]: r["redacted"] for r in df.select("i", redact_diff("text").alias("redacted")).collect()}
    assert got[0] == "x diff=<doc: 2 fields, 3 elements, 17 bytes> tail"
    assert got[1] == "no diff here"


def test_resolve_shard_indexes_sorted_positions(spark):
    from oplog_analyzer_spark.operators.filters import (
        resolve_shard_indexes,
        shard_subset_by_index,
    )

    df = spark.createDataFrame(
        [("shB", 1), ("shA", 2), ("shC", 3), ("shA", 4)], "shard string, v int"
    )
    # positions index the SORTED distinct list [shA, shB, shC]
    # (TailCommand.java:966-989); out-of-range indexes are skipped
    assert resolve_shard_indexes(df, [0, 2, 9], "shard") == ["shA", "shC"]
    kept = shard_subset_by_index(df, [0, 2, 9], "shard")
    assert sorted(r["shard"] for r in kept.collect()) == ["shA", "shA", "shC"]
    # None = all shards (reference default)
    assert shard_subset_by_index(df, None, "shard").count() == 4


def test_workload_buckets_float_threshold(spark):
    """A16 — classification happens INSIDE the operator (the driver query
    hashes its output column directly, VERDICT r02 #2): float thresholds
    classify by avg bytes/op with strict >."""
    per_shard = _mk(
        spark,
        [("s0", 10, 93), ("s1", 10, 94), ("s2", 4, 8)],
        "shard string, ops long, bytes long",
    )
    out = {r["shard"]: r["workload_class"]
           for r in A.workload_buckets(per_shard, avg_bytes_threshold=9.3).collect()}
    # avg 9.3 is NOT > 9.3 (strict, AnalyzeCommand.java:405-437); 9.4 is
    assert out == {"s0": "light", "s1": "heavy", "s2": "light"}


def test_recommendations_compose_skew_and_patterns(spark):
    from oplog_analyzer_spark.operators.aggregate import recommendations

    # shard s1 avg 10 B/op, shard s2 avg 30 B/op → 3x skew (>2x gate);
    # ns heavy has avg 6000 (heavy-updates), ns small has 20000 ops... use
    # compact fixture: sizes chosen against default thresholds scaled down
    rows = (
        [("heavy", "s1", 6000)] * 3
        + [("small", "s2", 10)] * 20
        + [("mid", "s1", 1500)] * 2
    )
    df = spark.createDataFrame(
        [(ns, sh, sz) for ns, sh, sz in rows], "ns string, shard string, size long"
    )
    out = recommendations(
        df, "shard", skew_factor=2.0, heavy_avg=5000, frequent_ops=10, small_avg=1000
    ).collect()
    kinds = {(r["kind"], r["subject"]): r["recommendation"] for r in out}
    assert ("shard_key", "cluster") in kinds  # s1 avg 4200 vs s2 avg 10 → >2x
    assert kinds[("collection", "heavy")] == "document bucketing or field-level updates"
    assert kinds[("collection", "small")] == "batching or aggregation pipeline updates"
    assert ("collection", "mid") not in kinds  # mixed → no recommendation


def test_binary_id_string_uuid_legacy_byte_order(spark):
    """P2 binary variant — getIdString subtype dispatch
    (BaseOplogCommand.java:170-226): UUID_LEGACY (3) reverses each 8-byte
    half (Java driver legacy encoding), UUID_STANDARD (4) is in-order,
    other subtypes render hex with >16-byte truncation, null → 'null'."""
    from oplog_analyzer_spark.operators.parse import binary_id_string

    std = bytes.fromhex("00112233445566778899aabbccddeeff")
    legacy = std[7::-1] + std[:7:-1]  # how the Java driver STORED it
    rows = [
        (0, std, 4),
        (1, legacy, 3),       # must decode to the same canonical UUID
        (2, b"\x01\x02\x03", 0),
        (3, bytes(range(20)), 0),
        (4, std[:10], 3),     # malformed UUID length → hex fallback
        (5, None, 4),
    ]
    df = spark.createDataFrame(rows, "i long, id_bin binary, subtype int")
    got = {
        r["i"]: r["s"]
        for r in df.select(
            "i", binary_id_string("id_bin", "subtype").alias("s")
        ).collect()
    }
    canonical = "00112233-4455-6677-8899-aabbccddeeff"
    assert got[0] == canonical
    assert got[1] == canonical  # legacy byte shuffle undone
    assert got[2] == "010203"
    assert got[3] == bytes(range(8)).hex() + "...(20 bytes)"
    assert got[4] == std[:10].hex()
    assert got[5] == "null"


def test_normalize_id_dispatch_shapes(spark):
    """P2 display parity with BaseOplogCommand.getIdString (:170-226):
    32-hex → UUID form; even-length >32-hex (binary >16 bytes) → first 8
    BYTES of hex + '...(N bytes)'; 24-hex (ObjectId), short hex, decimals
    and plain strings pass through."""
    from oplog_analyzer_spark.operators.parse import normalize_id

    rows = [
        ("0123456789abcdef0123456789ABCDEF",),          # 32-hex → UUID
        ("aa" * 20,),                                    # 40-hex → 16 + (20 bytes)
        ("0123456789abcdef01234567",),                   # 24-hex ObjectId form
        ("deadbeefdeadbeef",),                           # 16-hex string → unchanged
        ("12345",),                                      # decimal
        ("c00000042",),                                  # plain string (not hex: contains only hex chars? 'c' is hex... length 9 <16 → unchanged)
    ]
    df = spark.createDataFrame(rows, "raw string")
    got = {r["raw"]: r["norm"] for r in df.select(
        "raw", normalize_id("raw").alias("norm")).collect()}
    assert got["0123456789abcdef0123456789ABCDEF"] == "01234567-89ab-cdef-0123-456789abcdef"
    assert got["aa" * 20] == "aaaaaaaaaaaaaaaa...(20 bytes)"
    assert got["0123456789abcdef01234567"] == "0123456789abcdef01234567"
    assert got["deadbeefdeadbeef"] == "deadbeefdeadbeef"
    assert got["12345"] == "12345"
    assert got["c00000042"] == "c00000042"


def test_humanize_bytes_matches_integer_reference(spark):
    """Engine-exact humanization: compare against an independent integer
    implementation over boundaries, ties (1280/1024 = 1.25 — the value
    where Java HALF_UP and C printf half-even disagree), and a random
    sweep."""
    import random

    from oplog_analyzer_spark.operators.display import humanize_bytes

    def ref(b: int) -> str:
        if b < 1024:
            return f"{b} B"
        for div, unit in ((1024, "KB"), (1024**2, "MB"), (1024**3, "GB")):
            if b < div * 1024 or unit == "GB":
                t = (b * 10 + div // 2) // div
                return f"{t // 10}.{t % 10} {unit}"

    rng = random.Random(7)
    vals = (
        [0, 1, 1023, 1024, 1025, 1280, 1048575, 1048576, 1073741823,
         1073741824, 5 * 1024**3 + 512 * 1024**2]
        + [rng.randrange(0, 1 << 40) for _ in range(200)]
    )
    df = spark.createDataFrame([(v,) for v in vals], "b long")
    got = {r["b"]: r["h"] for r in df.select("b", humanize_bytes("b").alias("h")).collect()}
    for v in vals:
        assert got[v] == ref(v), (v, got[v], ref(v))


def test_normalize_id_expr_matches_udf(spark):
    """The r7 JVM normalize_id_expr must be value-identical to the pandas
    normalize_id UDF on every dispatch shape (incl. null, odd-length hex,
    non-ASCII, below-threshold hex)."""
    from pyspark.sql import functions as F

    from oplog_analyzer_spark.operators.parse import normalize_id, normalize_id_expr

    vals = [
        "c00000042",                              # plain string
        "deadbeefdeadbeefdeadbeefdeadbeef",       # 32 hex -> uuid form
        "DEADBEEFDEADBEEFDEADBEEFDEADBEEF",       # case folding
        "abcdef0123456789",                       # exactly 16 hex (passthrough)
        "a" * 33,                                 # odd-length long hex (passthrough)
        "ab" * 20,                                # 40 hex -> hex-prefix form
        "12345",                                  # short digits
        "",                                       # empty
        None,                                     # null
        "xyz=42",                                 # non-hex
        "0123456789abcdef0123456789abcdef01",     # 34 hex, even -> prefix form
        "é" * 20,                                 # non-ASCII passthrough
        "deadbeef",                               # hex below 16-char threshold
    ]
    df = spark.createDataFrame([(v,) for v in vals], "raw string")
    rows = df.select(
        "raw",
        normalize_id(F.col("raw")).alias("udf"),
        normalize_id_expr(F.col("raw")).alias("expr"),
    ).collect()
    for r in rows:
        assert r["udf"] == r["expr"], r


def test_diff_counts_kernel_matches_stdlib_reference():
    """The r7 one-pass orjson kernel behind diff_stats must agree with the
    original two-pass stdlib form (json.loads + recursive _count_elements)
    on adversarial JSON shapes: quoted structural chars, escape sequences,
    empty containers at every nesting, whitespace, floats/booleans/nulls,
    unicode, >64-bit ints and NaN/Infinity literals (where orjson raises
    and the kernel's stdlib fallback must engage)."""
    import json

    from oplog_analyzer_spark.operators.parse import _count_elements, _diff_counts

    vals = [
        "{}",
        '{"a":1}',
        '{"a":[]}',
        '{"a":{}}',
        '{"a":[1,2,3],"b":{"c":{"d":[true,false,null]}},"e":"x,y{z}[w]"}',
        '{"a":"he said \\"hi, there\\"","b":[["x"],[]]}',
        '{ "a" : [ 1 , 2 ] , "b" : { } }',
        '{"s":"\\\\","t":"\\\\\\"","u":[{"v":[]},{}]}',
        '{"a":[[],[[]]],"b":1}',
        '{"n":-1.5e3,"m":[0.0,2e-2]}',
        '{"uni":"日本語, {テスト}","x":[1]}',
        '{"big":123456789012345678901234567890}',   # orjson rejects >64-bit
        '{"nan":NaN,"inf":[Infinity,-Infinity]}',   # orjson rejects non-std
        '[1,{"a":2},[3,[]]]',                       # top-level array
    ]
    for v in vals:
        ref = json.loads(v)
        assert _diff_counts(v) == (len(ref), _count_elements(ref)), v
