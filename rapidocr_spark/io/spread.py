"""Explicit-count exchanges in front of the work that skew would pin.

``spread(df, *keys)`` is the one exchange: a hash repartition on ``keys``
to the session's parallelism.  Its partition count is explicit, so AQE
never coalesces it: AQE coalesces the other shuffles by bytes, and a
shuffle whose rows are cheap to move but costly to process (OCR turns,
64-dim cosine folds) would fold back onto one core.  Two callers:

- ``operators/extract.extract_transcripts`` spreads the heavy route on
  ``(conv_id, turn_idx)`` every time, so one long conversation cannot pin
  the fused kernel stage to one task.
- ``spread_parquet`` guards row-group-starved parquet inputs.  The
  bench/test corpora are written as ONE parquet file with ONE row group
  per table (5000-50000 rows), and parquet scans can only split at
  row-group boundaries, so every map-side computation over such a table
  (regex quality scoring, per-token polynomial hashing, 64-dim cosine
  folds, winnowing k-gram folds) would run in a SINGLE task no matter how
  many cores the session has.  It spreads only when the file's ROW-GROUP
  count (the hard ceiling on a parquet scan's parallelism, read once from
  the footer and memoized) is below the session's parallelism: a
  production-size table (many row groups / many files) already scans
  wide, and an exchange there would move terabytes for nothing.

The exchange hash-partitions on keys rather than round-robin: round-robin
pays a deterministic local sort of every row
(spark.sql.execution.sortBeforeRepartition, needed for retry safety),
while hash partitioning is retry-safe by construction and measured
cheaper here.  Both callers key on unique ids, so the hash spread is even.

``spread_parquet`` is deliberately NOT applied to the events table or the
pagerank node scan: those consumers are cheap map-side aggregations /
join-dominated plans where the exchange costs more than the single-task
scan it replaces (A/B-measured at sf1.0, see OPTIMIZATION_r08.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# path -> row-group count; footers are immutable for the session lifetime
_RG_CACHE: dict[str, int] = {}


def _row_groups(path: str) -> int:
    """Row-group count of a single-file parquet table (0 = unknown —
    directory layouts and unreadable footers fall back to 'wide enough',
    i.e. no defensive exchange)."""
    if path in _RG_CACHE:
        return _RG_CACHE[path]
    n = 0
    try:
        import os

        if os.path.isfile(path):
            import pyarrow.parquet as pq

            n = pq.ParquetFile(path).metadata.num_row_groups
    except Exception:  # noqa: BLE001 — treat as splittable
        n = 0
    _RG_CACHE[path] = n
    return n


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition ``df`` on ``keys`` to the session's parallelism."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *keys)


def spread_parquet(spark: SparkSession, path: str, key: str) -> DataFrame:
    """Read a parquet table; hash-repartition on ``key`` to the session's
    parallelism ONLY when the scan cannot split wide enough by itself."""
    df = spark.read.parquet(path)
    try:
        cores = spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 — e.g. Connect; keep the plain scan
        return df
    rg = _row_groups(path)
    if 0 < rg < cores:
        return spread(df, key)
    return df
