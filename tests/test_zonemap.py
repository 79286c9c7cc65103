"""The zone-map module (sources/zonemap.py): the footer-stats format, the
closed-interval overlap rule, and the guard that keeps every footer-stats
read behind it."""

from __future__ import annotations

import ast
import datetime as dt
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import rtcdb_spark
from rtcdb_spark.sources.zonemap import footer_stats, may_overlap

_PKG = Path(rtcdb_spark.__file__).parent
_UTC_PLUS_2 = dt.timezone(dt.timedelta(hours=2))


def test_footer_stats_encodes_dates_and_drops_what_it_cannot_prove(tmp_path):
    path = tmp_path / "f.parquet"
    table = pa.table(
        {
            "d": [dt.date(2024, 1, 2), dt.date(2024, 1, 1)],
            "ts": [dt.datetime(2024, 1, 1, 5), dt.datetime(2024, 1, 1, 6, 0, 0, 250000)],
            "s": ["b", "a"],
            "b": [b"\xff", b"a"],  # binary: no JSON form
            "n": [1, None],  # second row group is all NULL: no min/max needed
            "x": ["a", "b" * 5000],  # value over the stats size limit: no min/max
        }
    )
    pq.write_table(table, path, row_group_size=1)
    rows, cols = footer_stats(path)
    assert rows == 2
    assert cols == {
        "d": ("2024-01-01", "2024-01-02", 0),
        "ts": ("2024-01-01 05:00:00", "2024-01-01 06:00:00.250000", 0),
        "s": ("a", "b", 0),
        "n": (1, 1, 1),
    }


@pytest.mark.parametrize(
    "stats, bounds, keep",
    [
        ((1, 5), (5, 9), True),  # closed: touching ends overlap
        ((1, 5), (6, None), False),
        ((1, 5), (None, 0), False),
        ((1, None), (6, 9), True),  # unknown max proves nothing
        ((1, 5), ("a", "b"), True),  # cannot compare: kept
        (("2024-01-01 00:00:00.250000", "2024-01-31"), (dt.datetime(2024, 2, 1), None), False),
        (("2024-01-01 00:00:00.250000", "2024-01-31"), (None, dt.datetime(2024, 1, 1)), False),
        (("2024-01-01 00:00:00.250000", "2024-01-31"), (None, dt.date(2024, 1, 1)), False),
        (("2024-01-02", "2024-01-05"), (dt.date(2024, 1, 5), None), True),
        # aware probes compare as naive UTC: 07:00+02:00 is 05:00 UTC
        (("2024-01-01 05:00:00", "2024-01-01 06:00:00"),
         (dt.datetime(2024, 1, 1, 7, tzinfo=_UTC_PLUS_2), None), True),
        (("2024-01-01 05:00:00", "2024-01-01 06:00:00"),
         (dt.datetime(2024, 1, 1, 9, tzinfo=_UTC_PLUS_2), None), False),
        (("x", "y"), (dt.datetime(2024, 1, 1), None), True),  # unparseable: kept
    ],
)
def test_may_overlap(stats, bounds, keep):
    assert may_overlap(*stats, *bounds) is keep


def test_only_zonemap_reads_footer_statistics():
    inside, outside = 0, []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG.parent).as_posix()
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in ("statistics", "has_min_max"):
                if rel == "rtcdb_spark/sources/zonemap.py":
                    inside += 1
                else:
                    outside.append(f"{rel}:{node.lineno}")
    assert not outside, f"read footer stats via zonemap.footer_stats: {outside}"
    assert inside, "guard found no footer-stats read in zonemap.py — scan is broken"


def test_pruned_source_queries_match_oracle(spark, sf_smoke):
    """The two zone-map read paths a query runs through: the
    ``VersionedTable`` file planner (``source_indexed_scan``) and the
    native format's block planner (``source_rtcdb_pruned_scan``) answer
    as DuckDB does on the unpruned table, and the file planner really
    skips files."""
    from rtcdb_spark.queries import REGISTRY
    from tests.oracle import check_query

    for name in ("source_indexed_scan", "source_rtcdb_pruned_scan"):
        assert check_query(spark, name, sf_smoke) > 0
    read = REGISTRY["source_indexed_scan"].fn(spark, sf_smoke)
    assert 0 < len(read.inputFiles()) < 8
