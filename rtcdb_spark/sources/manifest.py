"""File-level min/max manifest index — the reference's sparse index, one level up.

The reference writes a 40-byte ``{offset, sizes, min, max}`` record per
1024-row block per column into ``<table>.<col>.index`` files, and *designs*
(never implements) a read path that binary-searches / zone-map-prunes those
records (reference src/storage.rs:72-106, README.md:49-56). In the Spark
engine, parquet row-group statistics already provide exactly that pruning
*within* a file. This module adds the next coarser level: a **manifest** of
per-file min/max/count statistics, so a selective predicate can skip entire
files before Spark even plans a scan task for them.

This is the same design as Delta Lake / Iceberg file-level data skipping,
built here from first principles on plain parquet:

- ``build_file_index``: one pass over the table computes, per physical file,
  ``row_count`` plus ``min_<col>``/``max_<col>`` for each indexed column, and
  writes the result as a (tiny) parquet manifest. The pass is distributed;
  cost is one scan of the indexed columns — identical in spirit to the
  reference writing index entries during ``write_data``.
- ``pruned_scan``: reads the manifest (rows scale with *file count*, not
  bytes — at 100 TB with 1 GB files that is ~100k rows, i.e. driver-trivial;
  Spark's own planner does driver-side file listing of the same magnitude),
  drops the table's current files whose [min, max] interval misses the
  predicate interval, and builds a scan over the rest — files the manifest
  does not list (appended after the build) included. The residual
  row-level predicate is re-applied, so results are exact even though file
  stats are coarse or stale.

Soundness note: pruning only ever *keeps* a file whose interval might match —
a file is skipped only when ``max < lo`` or ``min > hi``, which cannot hold
for any matching row. (The reference's 8-byte string-prefix truncation makes
its *max* understate the true max — unsound to prune on, SURVEY §4.2; here
stats come from full values via F.min/F.max, so no truncation hazard.)
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from rtcdb_spark.sources.zonemap import interval_filter

Interval = tuple[object, object]  # (lo, hi), either side may be None


def index_path_for(data_path: str) -> str:
    """Default manifest location: a sibling directory, never inside the data
    path (a reader of the data dir must not pick up manifest files)."""
    return data_path.rstrip("/") + "._file_index"


def build_file_index(
    spark: SparkSession,
    data_path: str,
    columns: list[str],
    index_path: str | None = None,
) -> str:
    """Compute per-file stats for ``columns`` and persist the manifest.

    One distributed pass: group by ``input_file_name()`` (the physical file a
    row came from), aggregate count + min/max per indexed column. Columns not
    listed cost nothing. Re-run after appends (rebuild is a scan of the
    indexed columns only, thanks to parquet column pruning).
    """
    index_path = index_path or index_path_for(data_path)
    df = spark.read.parquet(data_path).select(
        F.input_file_name().alias("_file"), *columns
    )
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in columns:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    manifest = df.groupBy("_file").agg(*aggs)
    # The manifest is metadata-sized (one row per file) — a single file keeps
    # reading it cheap.
    manifest.coalesce(1).write.mode("overwrite").parquet(index_path)
    return index_path


def _overlaps(intervals: dict[str, Interval]) -> Column:
    """The manifest-row condition "this file's [min, max] can meet every
    interval" (closed; ``None`` bounds are open-ended)."""
    cond = F.lit(True)
    for c, (lo, hi) in intervals.items():
        if lo is not None:
            cond = cond & (F.col(f"max_{c}") >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(f"min_{c}") <= F.lit(hi))
    return cond


def select_files(
    spark: SparkSession,
    index_path: str,
    intervals: dict[str, Interval],
) -> tuple[list[str], int]:
    """Return (files whose stats intersect every interval, total file count).

    Interval semantics are closed: keep file unless ``max_c < lo`` or
    ``min_c > hi``. ``None`` bounds are open-ended.
    """
    manifest = spark.read.parquet(index_path)
    cond = _overlaps(intervals)
    total = manifest.count()
    # Driver-side collect is METADATA-sized: one row per surviving data file,
    # never data rows (the same driver-resident file list every format keeps —
    # Delta/Iceberg do the identical step). Bound: at ~10^6 files × ~100 B
    # path this is ~100 MB driver memory and an O(n_files) planning step —
    # acceptable to ~1 M files; beyond that, compact files (sources.compact)
    # or hand Spark the manifest-filtered paths as a partitioned table.
    files = [r["_file"] for r in manifest.filter(cond).select("_file").collect()]
    return files, total


def pruned_scan(
    spark: SparkSession,
    data_path: str,
    intervals: dict[str, Interval],
    columns: list[str] | None = None,
    index_path: str | None = None,
) -> DataFrame:
    """Manifest-pruned scan: skip files whose stats exclude the predicate,
    then re-apply the predicate row-level on the survivors (exactness).

    The table's CURRENT file listing decides what is read; the manifest
    only removes files from it. A file added after ``build_file_index``
    has no manifest row and is always read, and a listed file that no
    longer exists is never asked for — so a stale manifest costs pruning,
    never rows. Without a manifest this is a plain filtered scan: pruning
    is an optimization, never a correctness dependency.
    """
    index_path = index_path or index_path_for(data_path)
    table = spark.read.parquet(data_path)
    if os.path.isdir(index_path):
        # one metadata-sized collect: (file, may-match) per manifest row
        listed = {
            r["_file"]: r["hit"]
            for r in spark.read.parquet(index_path)
            .select("_file", _overlaps(intervals).alias("hit"))
            .collect()
        }
        # an all-NULL column's min/max make `hit` NULL: no row can match
        files = [f for f in table.inputFiles() if listed.get(f, True)]
        if not files:
            df = spark.createDataFrame([], table.schema)
        else:
            df = spark.read.schema(table.schema).parquet(*files)
    else:
        df = table
    df = df.filter(
        interval_filter((c, lo, hi) for c, (lo, hi) in intervals.items())
    )
    if columns:
        df = df.select(*columns)
    return df
