"""J3 — the broadcast dimension lookup (J1 is the ``j1_lookup_enrich``
query and ``TailStream``'s ``doc_sizes_path`` join, J2 is
``sources/stats_json``, J4 the admitted-id filter in ``operators/windows``).

All reference joins are equi-joins on id/ns/shard against small lookup
sides; the right physical strategy at any scale is a broadcast hash join,
which replaces both the hand-batched point lookups (≤10 docs / 100 ms,
TailCommand.java:221-224, 398-463) and the in-memory shard-key metadata map
(AnalyzeCommand.java:289-306).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_lookup(
    df: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "left",
) -> DataFrame:
    """J3 — broadcast dimension lookup (shard-key metadata analog,
    AnalyzeCommand.java:289-306, SampleCommand.java:452-475)."""
    return df.join(F.broadcast(dim), on=on, how=how)

