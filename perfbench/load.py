"""Seeded change-event logs for the CDC workloads.

``generate_log`` writes the log ``emailcdc.fixtures.distributed_events_df``
builds (event j of key i at offset ``j * n_keys + i``) to parquet, outside
any timed region.  ``distributed_events_df`` writes its files
concurrently, and the streaming file source orders its micro-batches by
mtime, so ``write_offset_ordered`` rewrites the log for the stream:
contiguous offset ranges, one file at a time, with strictly increasing
mtimes.  The stream and the DuckDB oracle read those files.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq

from emailcdc import schemas
from emailcdc.fixtures import distributed_events_df

EMAIL_MIX = ("eml", "mbox", "eml", "ics", "eml", "py")

MTIME0 = 1_700_000_000


def generate_log(spark, path: str, n_events: int, n_keys: int, langs: tuple,
                 seed: int) -> None:
    distributed_events_df(spark, n_events, n_keys, seed=seed, langs=langs) \
        .write.mode("overwrite").parquet(path)


def write_offset_ordered(src: str, directory: str, n_files: int) -> None:
    """Split the log at ``src`` into ``n_files`` contiguous offset ranges
    and write them in offset order, file ``k`` stamped with mtime
    ``MTIME0 + k``."""
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pq.read_table(src).sort_by("offset") \
        .cast(to_arrow_schema(schemas.CHANGE_EVENTS))
    os.makedirs(directory, exist_ok=True)
    per_file = -(-table.num_rows // n_files)
    for k in range(n_files):
        path = os.path.join(directory, f"part-{k:05d}.parquet")
        pq.write_table(table.slice(k * per_file, per_file), path)
        os.utime(path, (MTIME0 + k, MTIME0 + k))
