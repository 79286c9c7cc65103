"""File-level manifest index (sources/manifest.py) — the reference's sparse
index (src/storage.rs:72-106, README.md:49-56) realized as per-file min/max
data skipping. Pinned properties: pruning actually skips files, results stay
exact (= unpruned filter), empty-range and no-index fallbacks work."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from rtcdb_spark.db import Database, TableMeta
from rtcdb_spark.sources import load_table
from rtcdb_spark.sources.manifest import (
    build_file_index,
    pruned_scan,
    select_files,
)


@pytest.fixture(scope="module")
def indexed_lineitem(spark, sf_smoke, tmp_path_factory):
    """lineitem rewritten range-partitioned+sorted by l_shipdate into 8 files,
    with a manifest built on (l_shipdate, l_orderkey)."""
    path = str(tmp_path_factory.mktemp("manifest") / "lineitem")
    li = load_table(spark, sf_smoke, "lineitem")
    (
        li.repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    build_file_index(spark, path, ["l_shipdate", "l_orderkey"])
    return path


def test_pruning_skips_files(spark, indexed_lineitem):
    lo = F.lit("1995-06-01").cast("timestamp")
    hi = F.lit("1995-06-30").cast("timestamp")
    files, total = select_files(
        spark,
        indexed_lineitem + "._file_index",
        {"l_shipdate": (lo, hi)},
    )
    assert total == 8
    # a one-month range over ~2.5 years of range-partitioned data must not
    # need every file
    assert 0 < len(files) < total


def test_pruned_scan_is_exact(spark, indexed_lineitem):
    lo = F.lit("1995-06-01").cast("timestamp")
    hi = F.lit("1995-06-30").cast("timestamp")
    got = (
        pruned_scan(spark, indexed_lineitem, {"l_shipdate": (lo, hi)})
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").alias("s"),
        )
        .collect()[0]
    )
    want = (
        spark.read.parquet(indexed_lineitem)
        .filter((F.col("l_shipdate") >= lo) & (F.col("l_shipdate") <= hi))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_orderkey").alias("s"))
        .collect()[0]
    )
    assert got["n"] == want["n"] > 0
    assert got["s"] == want["s"]


def test_empty_range_returns_no_rows(spark, indexed_lineitem):
    lo = F.lit("2030-01-01").cast("timestamp")
    df = pruned_scan(spark, indexed_lineitem, {"l_shipdate": (lo, None)})
    assert df.count() == 0
    # schema preserved even when every file is pruned
    assert "l_shipdate" in df.columns


def test_fallback_without_index(spark, sf_smoke, tmp_path):
    path = str(tmp_path / "plain")
    load_table(spark, sf_smoke, "lineitem").write.parquet(path)
    df = pruned_scan(spark, path, {"l_orderkey": (1, 100)})
    want = (
        spark.read.parquet(path)
        .filter((F.col("l_orderkey") >= 1) & (F.col("l_orderkey") <= 100))
        .count()
    )
    assert df.count() == want > 0


def test_database_build_index_and_indexed_scan(spark, sf_smoke, tmp_path):
    db = Database.init(
        spark,
        str(tmp_path / "db"),
        [TableMeta("events", [("event", "string"), ("ts", "uint64"), ("id", "uint64")])],
    )
    rows = [[f"e{i % 5}", 1000 + i, i] for i in range(2000)]
    # several appends → several physical files
    for start in range(0, 2000, 500):
        db.write_data("events", rows[start : start + 500])
    db.build_index("events", ["ts"])
    got = db.indexed_scan("events", {"ts": (1100, 1199)}).count()
    want = db.scan("events", predicate=(F.col("ts") >= 1100) & (F.col("ts") <= 1199)).count()
    assert got == want == 100


def test_pruned_scan_reads_files_added_after_build(spark, sf_smoke, tmp_path):
    # A stale manifest may cost pruning, never rows: a file appended after
    # build_file_index is read, and a listed file since deleted is not.
    import os

    path = str(tmp_path / "li")
    li = load_table(spark, sf_smoke, "lineitem").select("l_orderkey", "l_quantity")
    li.repartitionByRange(4, "l_orderkey").write.parquet(path)
    build_file_index(spark, path, ["l_orderkey"])
    listed = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    li.filter("l_orderkey <= 500").coalesce(1).write.mode("append").parquet(path)
    os.remove(os.path.join(path, listed[-1]))
    iv = {"l_orderkey": (1, 500)}
    got = pruned_scan(spark, path, iv)
    want = spark.read.parquet(path).filter("l_orderkey BETWEEN 1 AND 500")
    assert sorted(got.collect()) == sorted(want.collect())
    assert want.count() > 0


def test_pruned_scan_skips_listed_files(spark, indexed_lineitem):
    lo = F.lit("1995-06-01").cast("timestamp")
    hi = F.lit("1995-06-30").cast("timestamp")
    got = pruned_scan(spark, indexed_lineitem, {"l_shipdate": (lo, hi)})
    assert 0 < len(got.inputFiles()) < 8
