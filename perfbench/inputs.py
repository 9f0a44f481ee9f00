"""Tail increments cut from the package's seeded transcript generator
(``transcripts.generate_transcripts``)."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def split_increments(src_dir: str, dst_dir: str, n_increments: int, files_per: int) -> list[list[str]]:
    """Re-cut the parquet files under ``src_dir`` into ``n_increments``
    groups of ``files_per`` files each, in row order, and return the file
    paths per increment.  Row order is the generator's conversation
    order, so increment k holds the k-th block of conversations."""
    parts = sorted(f for f in os.listdir(src_dir) if f.endswith(".parquet"))
    table = pa.concat_tables(pq.read_table(os.path.join(src_dir, f)) for f in parts)
    # Spark writes INT96 timestamps, which pyarrow reads as naive ns; store
    # UTC microseconds so Spark reads the column back as TimestampType
    ts = table.schema.get_field_index("ts")
    table = table.set_column(ts, "ts", table.column(ts).cast(pa.timestamp("us", tz="UTC")))
    n_files = n_increments * files_per
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    os.makedirs(dst_dir, exist_ok=True)
    groups: list[list[str]] = []
    for k in range(n_increments):
        group = []
        for j in range(files_per):
            i = k * files_per + j
            out = os.path.join(dst_dir, f"inc{k:03d}-{j}.parquet")
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), out)
            group.append(out)
        groups.append(group)
    return groups
