"""Physical-plan audits: the properties that matter at 100 TB.

These assert on .explain output so a regression that silently turns a
broadcast join into a shuffled sort-merge join, or stops pushing the ts
filter into the scan, fails CI — the plan IS the product at scale.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from oplog_analyzer_spark import entry_queries as Q
from oplog_analyzer_spark.sources.tables import load_table
from tests.conftest import SF_SMALL


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_time_range_filter_pushed_to_scan(spark):
    plan = plan_of(Q.s2_time_range_scan(spark, SF_SMALL))
    assert "PushedFilters:" in plan
    # ts predicates reach the parquet reader
    assert "GreaterThanOrEqual(ts" in plan and "LessThanOrEqual(ts" in plan


def test_column_pruning_reads_only_needed_columns(spark):
    plan = plan_of(Q.a1_ns_op_report(spark, SF_SMALL))
    # ReadSchema must not include the unused props-independent columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" not in read_schema
    assert "ts" not in read_schema


def test_broadcast_joins_for_dims(spark):
    plan = plan_of(Q.j3_broadcast_dims(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]  # the tree section; details repeat names
    assert tree.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_j1_lookup_is_broadcast(spark):
    plan = plan_of(Q.j1_lookup_enrich(spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "LeftOuter" in plan


def test_aggregate_is_partial_then_final(spark):
    plan = plan_of(Q.a1_ns_op_report(spark, SF_SMALL))
    # two-phase hash aggregation (the reference's per-thread partial maps +
    # merge, EntryAccumulator.java:210-228, done by Catalyst)
    tree = plan.split("\n\n")[0]
    assert tree.count("HashAggregate") == 2
    assert "hashpartitioning(ns" in plan


def test_topk_uses_take_ordered(spark):
    plan = plan_of(Q.a6_top_ids(spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan  # no global sort for top-k


def test_whole_stage_codegen_covers_agg(spark):
    df = Q.a1_ns_op_report(spark, SF_SMALL)
    df.collect()  # AQE finalizes the plan only on execution
    plan = plan_of(df)
    assert "codegen id" in plan  # agg/project run inside WholeStageCodegen


def test_routing_join_is_broadcast(spark, transcripts):
    from oplog_analyzer_spark.operators.parse import parse_transcripts
    from oplog_analyzer_spark.sources.sinks import route_categories
    from oplog_analyzer_spark.transcripts import tool_catalog

    routed = route_categories(parse_transcripts(transcripts), tool_catalog(spark))
    plan = plan_of(routed)
    tree = plan.split("\n\n")[0]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one ArrowEvalPython stage: all pandas UDFs batched together
    assert tree.count("ArrowEvalPython") == 1


def test_parse_filter_pushdown_before_udf(spark, tmp_path):
    """The config-namespace exclusion must run below the Python UDF stage so
    excluded rows never cross the Arrow boundary."""
    from oplog_analyzer_spark.operators.filters import exclude_system_namespaces
    from oplog_analyzer_spark.operators.parse import parse_transcripts

    src = str(tmp_path / "p.parquet")
    from oplog_analyzer_spark.transcripts import generate_transcripts

    generate_transcripts(spark, num_conversations=10).write.parquet(src)
    df = exclude_system_namespaces(parse_transcripts(spark.read.parquet(src)))
    plan = plan_of(df)
    arrow_pos = plan.index("ArrowEvalPython")
    # the Filter node evaluating the ns regex sits below (after in the tree
    # listing) the Arrow stage — i.e. executes first
    filter_lines = [
        l for l in plan.splitlines() if "Filter" in l and "Condition" not in l
    ]
    assert filter_lines, plan
    assert "StartsWith" in plan


def test_pipeline_batch_read_is_pruned_not_filtered(spark, transcripts, tmp_path):
    """The batch DataFrame must be a pruned directory/file read — NOT a
    computed-hash filter over the full input (which costs N full scans at
    N batches)."""
    from oplog_analyzer_spark import transcripts as T
    from oplog_analyzer_spark.plans.pipeline import TranscriptPipeline

    pipe = TranscriptPipeline(
        spark, str(tmp_path / "wd"), T.tool_catalog(spark), num_batches=3
    )
    state = pipe._load_checkpoint()
    pipe._stage(transcripts, state)
    batch = pipe._batch_df(state, 0)
    plan = plan_of(batch)
    assert "xxhash64" not in plan            # no computed batch-id filter
    assert "batch_id=0" in plan              # scans ONLY its own partition dir
    # and the scan location does not cover other batches
    assert "batch_id=1" not in plan


def test_reassembly_two_phase_plan(spark, transcripts):
    """Two-phase reassembly = two aggregate pairs: (conv, bucket) partials
    then per-conv merge; single-phase has one pair."""
    from oplog_analyzer_spark.operators.windows import reassemble_conversations

    two = plan_of(reassemble_conversations(transcripts, bucket_span=8))
    one = plan_of(reassemble_conversations(transcripts, bucket_span=None))
    tree2 = two.split("\n\n")[0]
    tree1 = one.split("\n\n")[0]
    # sort_array(collect_list) is an ObjectHashAggregate; partial+final per phase
    n2 = tree2.count("ObjectHashAggregate") + tree2.count("SortAggregate")
    n1 = tree1.count("ObjectHashAggregate") + tree1.count("SortAggregate")
    assert n2 == 4, two
    assert n1 == 2, one
    # phase-1 shuffle key includes the bucket → hot conv spreads
    assert "__bucket" in two


def test_trigram_scoring_has_no_join(spark):
    """trigram_coverage self-scoring: the <=top_k-gram model is collected
    (bounded) and scoring is one InSet aggregate pass over the cached
    exploded frame — NO join node between the cache scan and the doc
    aggregate (r7; a sort-merge join here would shuffle every exploded
    trigram row against a 500-row table, and even the broadcast form
    copied every row through the join operator)."""
    plan = plan_of(Q.trigram_quality(spark, SF_SMALL))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree
    assert "SortMergeJoin" not in plan


def test_span_stats_chunking_is_narrow_after_fanout(spark):
    """duplicated_span_stats: the chunk build is a narrow projection +
    Generate (the only Exchange below the frequency aggregate is the
    r7 fan_out repartition of the COMPACT source rows — fired here
    because the testdata scan is a single coarse row group), and the
    frequency aggregate must be two-phase."""
    from oplog_analyzer_spark.functions.dedup import duplicated_span_stats

    docs = load_table(spark, SF_SMALL, "documents")
    plan = plan_of(duplicated_span_stats(docs, window=16))
    tree = plan.split("\n\n")[0]
    # partial+final for the chunk-hash freq agg AND the doc agg
    assert tree.count("HashAggregate") >= 4
    # chunk explode present above the scan; the fan_out exchange (if any)
    # must hash-partition on the doc id, never on the chunk text
    scan_idx = tree.find("Scan parquet")
    assert scan_idx != -1
    above = tree[:scan_idx].splitlines()
    gen_lines = [l for l in above if "Generate" in l or "Project" in l]
    assert gen_lines, "chunk explode should sit on the scan side"
    assert "hashpartitioning(chunk_text" not in plan


def test_fan_out_fires_only_on_coarse_scans(spark, tmp_path):
    """fan_out: repartitions a coarse single-file scan to cluster
    parallelism, and is a NO-OP on already-shuffled frames (the
    mid-pipeline case) and on local relations."""
    from oplog_analyzer_spark.sources.tables import fan_out

    docs = load_table(spark, SF_SMALL, "documents")
    target = spark.sparkContext.defaultParallelism
    fanned = fan_out(docs, "doc_id")
    assert "Repartition" in fanned._jdf.queryExecution().logical().toString()
    assert fanned.rdd.getNumPartitions() == target
    # results unchanged (hash repartition is deterministic + exhaustive)
    assert fanned.count() == docs.count()
    # no-op on an aggregated (already shuffled) frame
    agg = docs.groupBy("lang").count()
    assert fan_out(agg, "lang") is agg
    # no-op on a second application (Repartition already present)
    assert fan_out(fanned, "doc_id") is fanned
    # no-op on a local relation (no input files)
    local = spark.range(5)
    assert fan_out(local, "id") is local


def test_fan_out_gate_is_structural(spark):
    """fan_out's gate walks the optimized plan's node classes: a Python
    UDF, a non-deterministic column, a union, a sample, a generator or a
    non-file source leaves the frame untouched, while a string literal that
    names plan nodes does not stop a coarse scan's fan-out.  Every case
    collects the same multiset of rows as its input."""
    from collections import Counter

    from oplog_analyzer_spark.sources.tables import fan_out

    docs = load_table(spark, SF_SMALL, "documents").select("doc_id", "text")
    echo = F.udf(lambda s: s, "string")
    untouched = {
        "rand": docs.withColumn("r", F.rand(1)),
        "python_udf": docs.withColumn("u", echo("text")),
        "union": docs.union(docs),
        "sample": docs.sample(0.5, seed=1),
        "explode": docs.select("doc_id", F.explode(F.split("text", " ")).alias("w")),
        "range": spark.range(5).withColumnRenamed("id", "doc_id"),
    }
    for name, df in untouched.items():
        out = fan_out(df, "doc_id")
        assert out is df, name
        assert Counter(out.collect()) == Counter(df.collect()), name

    literal = docs.filter(F.col("text") != "Join Sort")
    fanned = fan_out(literal, "doc_id")
    assert "Repartition" in fanned._jdf.queryExecution().optimizedPlan().toString()
    assert Counter(fanned.collect()) == Counter(literal.collect())


def test_neardup_stream_batch_join_shape(spark, tmp_path):
    """NearDupStream's per-batch reject join: bucket-keyed candidate join,
    signature verification by zip_with — no crossJoin anywhere."""
    import os

    from oplog_analyzer_spark.streaming.dedup_stream import NearDupStream

    input_dir = str(tmp_path / "in")
    os.makedirs(input_dir)
    s = NearDupStream(spark, input_dir, str(tmp_path / "work"))
    batch = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"), F.lit("s").alias("source"),
        F.lit(2).alias("n_chars"),
    )
    # drive one batch through the sink, then audit the verdicts plan
    s._sink_batch(batch, 0)
    plan = plan_of(s.verdicts())
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_dsir_plan_caches_counts_and_broadcasts_ratios(spark):
    """dsir_weights: the (id, bucket, c) counts frame must be scanned from
    cache by all three consumers (ratio agg, score join, threshold probe)
    — not rebuilt per consumer — the ratio table must broadcast into the
    score join, and the only Cross join is the 1-row totals attach."""
    from oplog_analyzer_spark.functions.dsir import dsir_weights
    from oplog_analyzer_spark.sources.tables import load_table as lt

    docs = lt(spark, SF_SMALL, "documents")
    out = dsir_weights(docs, docs.filter("lang = 'en'"), k=10)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3
    assert "BroadcastHashJoin [bucket" in plan
    # the only nested-loop is broadcasting the single-row totals; it can
    # appear twice TEXTUALLY because the cached scores frame's
    # InMemoryRelation reprints its child plan (counts + ratios + totals)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    assert "CartesianProduct" not in plan


def test_crosscorpus_dedup_has_no_cartesian(spark):
    """dedup_against: candidates come from the (band, bucket) equi-join —
    never a cross product of the corpora."""
    from oplog_analyzer_spark.functions.dedup import dedup_against
    from oplog_analyzer_spark.sources.tables import load_table as lt

    docs = lt(spark, SF_SMALL, "documents")
    new = docs.selectExpr("doc_id + 900000 AS doc_id", "text")
    plan = plan_of(dedup_against(new, docs, max_bucket=64))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_decontam_plan_is_join_free(spark):
    """semantic_contamination_report: the train corpus must not join or
    shuffle — one ArrowEvalPython projection over the scan."""
    from oplog_analyzer_spark.functions.decontam import (
        semantic_contamination_report,
    )
    from oplog_analyzer_spark.sources.tables import load_table as lt

    emb = lt(spark, SF_SMALL, "embeddings")
    plan = plan_of(
        semantic_contamination_report(
            emb.filter("label <> 9"), emb.filter("label = 9"), threshold=0.3
        )
    )
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree and "Exchange" not in tree
    assert "ArrowEvalPython" in tree


def test_temperature_upsample_plan_is_one_explode_no_join(spark):
    """temperature_upsample pass 2: a CASE-chain projection + one
    explode — no join against a factor table, no extra shuffle."""
    from oplog_analyzer_spark.functions.sampling import temperature_upsample
    from oplog_analyzer_spark.sources.tables import load_table as lt

    docs = lt(spark, SF_SMALL, "documents").select("doc_id", "lang")
    plan = plan_of(temperature_upsample(docs, "lang", alpha=0.5))
    tree = plan.split("\n\n")[0]
    assert "Join" not in tree and "Exchange" not in tree
    assert tree.count("Generate") == 1
