"""oplog_analyzer_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of mhelmstetter/oplog-analyzer, re-expressed
Spark-first.

The reference (read-only at /root/reference) is a single-JVM MongoDB oplog
analyzer: tail/scan/sample/analyze commands over an append-only log of BSON
documents, producing per-(namespace, op) accumulator reports, per-_id
statistics, per-shard rollups and workload analytics.  This package rebuilds
those capabilities as declarative DataFrame plans (Catalyst does the
partial/final aggregation, pushdown and pruning the reference hand-rolls),
plus the large-scale extensions the north_rule requires: a resumable,
checkpointed parse→enrich→route→aggregate transcript pipeline, dedup /
similarity / text-analysis operators, and fan-out category sinks.

Layout:
    session.py            SparkSession factory tuned for scale (AQE, Arrow)
    transcripts.py        deterministic distributed transcript generator
    operators/parse.py    native regex parse stage + diff-stats pandas UDF
    operators/filters.py  F1–F8 filter family
    operators/enrich.py   J1/J3 broadcast lookup enrichment
    operators/aggregate.py A1–A16 aggregate family
    operators/windows.py  W1–W4 window analogs + conversation reassembly
    sources/              bounded/incremental sources, routing fan-out sinks
    functions/            dedup, similarity, text stats, multimodal plumbing
    plans/pipeline.py     checkpointed resumable parse→enrich→route→aggregate
    streaming/            structured-streaming tail analog
"""

__version__ = "0.1.0"
