"""J1/J3 — the enrichment joins (J2 is ``sources/stats_json``, J4 the
admitted-id filter in ``operators/windows``).

All reference joins are equi-joins on id/ns/shard against small lookup
sides; the right physical strategy at any scale is a broadcast hash join,
which replaces both the hand-batched point lookups (≤10 docs / 100 ms,
TailCommand.java:221-224, 398-463) and the in-memory shard-key metadata map
(AnalyzeCommand.java:289-306).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookup_actual_size(
    df: DataFrame,
    doc_sizes: DataFrame,
    id_col: str = "id",
    oplog_size_col: str = "size",
    actual_col: str = "actual_size",
) -> DataFrame:
    """J1 — fetchDocSizes (TailCommand.java:398-463).

    Left-outer lookup of the document's actual size with fallback to the
    oplog entry size when the document is gone (TailCommand.java:445-451,
    456-458) → ``coalesce(actual, oplog)``.  The lookup table is broadcast:
    the reference bounds it implicitly by batching; we bound it by being a
    dimension (if it ever outgrows broadcast, AQE falls back to a shuffled
    hash join on the same plan).
    """
    enriched = df.join(F.broadcast(doc_sizes), on=id_col, how="left")
    return enriched.withColumn(
        "doc_size", F.coalesce(F.col(actual_col), F.col(oplog_size_col))
    ).drop(actual_col)


def broadcast_lookup(
    df: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """J3 — broadcast dimension lookup (shard-key metadata analog,
    AnalyzeCommand.java:289-306, SampleCommand.java:452-475)."""
    return df.join(F.broadcast(dim), on=on, how=how)

