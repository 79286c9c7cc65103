"""Round-trip tests for the reference-shaped Database API (rtcdb_spark.db).

Mirrors — and completes — the reference's integration tests
(tests/integration_test.rs:21-61): test_init, test_open, test_write, plus the
read-back assertion the reference never had (its read path is dead code, see
SURVEY.md §4.3 bug 2).
"""

from __future__ import annotations

import datetime
import json
import os

import pytest

from rtcdb_spark.db import _DTYPES, Database, SchemaError, TableMeta

# The reference's canonical fixture: an events table
# {event: String, timestamp: Uint64, id: Uint64} (tests/integration_test.rs:13-17).
EVENTS = TableMeta("events", [("event", "string"), ("timestamp", "uint64"), ("id", "uint64")])

ROWS = [
    ["pageview", 1000, 1],
    ["click", 1005, 2],
    ["pageview", 1010, 3],
    ["purchase", 1020, 4],
]


@pytest.fixture()
def db(spark, tmp_path):
    return Database.init(spark, str(tmp_path / "db"), [EVENTS])


def test_init_writes_metadata(db):
    # ↔ reference test_init (integration_test.rs:21-29)
    with open(os.path.join(db.path, "metadata.json")) as fh:
        meta = json.load(fh)
    assert meta["tables"][0]["name"] == "events"
    assert [c["name"] for c in meta["tables"][0]["columns"]] == ["event", "timestamp", "id"]


def test_open_round_trips_catalog(spark, db):
    # ↔ reference test_open (integration_test.rs:32-40)
    reopened = Database.open(spark, db.path)
    assert reopened.tables.keys() == db.tables.keys()
    assert reopened.tables["events"].columns == EVENTS.columns


def test_write_then_read_back(db):
    # ↔ reference test_write (integration_test.rs:42-61) + the missing read-back
    db.write_data("events", ROWS)
    got = sorted(db.table("events").collect(), key=lambda r: r["id"])
    assert [list(r) for r in got] == ROWS


def test_append_accumulates(db):
    db.write_data("events", ROWS[:2])
    db.write_data("events", ROWS[2:])
    assert db.table("events").count() == len(ROWS)


def test_scan_projection_and_filter(db):
    db.write_data("events", ROWS)
    df = db.scan("events", columns=["event", "id"], predicate="timestamp >= 1010")
    assert df.columns == ["event", "id"]
    assert {r["id"] for r in df.collect()} == {3, 4}


def test_scan_pushes_filter_to_parquet(db):
    # The reference's designed stages 1-2 (README.md:54-56) are parquet
    # row-group stat pruning here — verify the predicate reaches the scan.
    db.write_data("events", ROWS)
    df = db.scan("events", columns=["id"], predicate="id > 2")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "id" in plan


def test_unknown_table_errors(db):
    # ↔ src/lib.rs:42-44 catalog lookup failure
    with pytest.raises(SchemaError):
        db.write_data("nope", ROWS)
    with pytest.raises(SchemaError):
        db.table("nope")


def test_ragged_row_errors(db):
    # The reference panics on ragged rows (src/storage.rs:247-249); we error.
    with pytest.raises(SchemaError):
        db.write_data("events", [["pageview", 1000]])


def test_unknown_dtype_errors(spark, tmp_path):
    bad = TableMeta("t", [("x", "complex128")])
    db = Database.init(spark, str(tmp_path / "bad"), [bad])
    with pytest.raises(SchemaError):
        db.write_data("t", [[1]])


def test_schema_mismatch_on_append(db, spark):
    df = spark.createDataFrame([(1, "a")], ["id", "event"])
    with pytest.raises(SchemaError):
        db.append("events", df)


def test_append_rejects_wrong_types(db, spark):
    # a double column must not land in a uint64 column (nothing is written)
    df = spark.createDataFrame([("a", 1.5, 1)], "event string, timestamp double, id long")
    with pytest.raises(SchemaError):
        db.append("events", df)
    assert db.table("events").count() == 0


def test_sql_surface(spark, tmp_path):
    db = Database.init(spark, str(tmp_path / "sqldb"), [EVENTS])
    db.write_data(
        "events",
        [["a", 10, 1], ["b", 20, 2], ["a", 30, 3], ["c", 40, 4]],
    )
    got = {
        r["event"]: (r["n"], r["max_ts"])
        for r in db.sql(
            "SELECT event, COUNT(*) AS n, MAX(timestamp) AS max_ts "
            "FROM events GROUP BY event"
        ).collect()
    }
    assert got == {"a": (2, 30), "b": (1, 20), "c": (1, 40)}


def test_schema_evolution_merge(spark, tmp_path):
    """Column-add evolution via parquet mergeSchema — explicitly a
    non-feature in the reference (README.md:18 'no schema migrations');
    the new engine reads old+new files in one scan, nulling the added
    column for old rows."""
    import pyspark.sql.functions as F

    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string").write.mode(
        "append"
    ).parquet(path)
    spark.createDataFrame(
        [(3, "c", 9.5)], "id long, s string, score double"
    ).write.mode("append").parquet(path)

    df = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(df.columns) == {"id", "s", "score"}
    rows = {r["id"]: (r["s"], r["score"]) for r in df.collect()}
    assert rows[1] == ("a", None) and rows[3] == ("c", 9.5)
    # evolved column is filterable (null-safe) across the whole table
    assert df.filter(F.col("score").isNotNull()).count() == 1


def test_database_versioned_table_roundtrip(spark, tmp_path):
    from rtcdb_spark.db import Database, TableMeta

    db = Database.init(spark, str(tmp_path / "db"), [TableMeta("t", [("k", "uint64")])])
    vt = db.versioned("metrics")
    vt.commit(spark.range(5).selectExpr("id AS k"))
    vt.commit(spark.range(5, 8).selectExpr("id AS k"))
    assert sorted(r.k for r in vt.read().collect()) == list(range(8))
    # reopening the database reaches the same table
    db2 = Database.open(spark, str(tmp_path / "db"))
    assert db2.versioned("metrics").latest_version() == 1


# -- catalog tables are VersionedTables: stats written by every commit -----

KV = TableMeta("kv", [("k", "uint64"), ("v", "string")])


def _kv_rows(lo: int, hi: int, tag: str = "v") -> list[list]:
    return [[k, f"{tag}{k}"] for k in range(lo, hi)]


def _sorted_rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_indexed_scan_exact_without_rebuild(spark, tmp_path):
    # An index built before the second write must not hide its rows: the
    # commit that adds a file records its stats.
    db = Database.init(spark, str(tmp_path / "db"), [KV])
    db.write_data("kv", _kv_rows(0, 100))
    db.build_index("kv", ["k"])
    db.write_data("kv", _kv_rows(100, 200))
    got = db.indexed_scan("kv", {"k": (50, 150)})
    want = db.scan("kv", predicate="k BETWEEN 50 AND 150")
    assert _sorted_rows(got) == _sorted_rows(want)
    assert got.count() == 101


def test_indexed_scan_matches_scan_after_merge(spark, tmp_path):
    db = Database.init(spark, str(tmp_path / "db"), [KV])
    db.write_data("kv", _kv_rows(0, 100))
    db.build_index("kv", ["k"])
    src = spark.createDataFrame(_kv_rows(40, 60, "new") + _kv_rows(200, 210, "ins"), "k long, v string")
    db.merge("kv", src, ["k"])
    got = db.indexed_scan("kv", {"k": (30, 205)}, columns=["k", "v"])
    want = db.scan("kv", columns=["k", "v"], predicate="k BETWEEN 30 AND 205")
    assert _sorted_rows(got) == _sorted_rows(want)
    assert {r["v"] for r in got.filter("k = 50").collect()} == {"new50"}
    assert got.count() == 70 + 6


def test_indexed_scan_prunes_disjoint_appends(spark, tmp_path):
    import datetime

    import pyspark.sql.functions as F

    def hour(k):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=k)

    tv = TableMeta("tv", [("k", "timestamp"), ("v", "string")])
    db = Database.init(spark, str(tmp_path / "db"), [KV, tv])
    for name, ddl, key in [("kv", "k long", int), ("tv", "k timestamp_ntz", hour)]:
        for lo in range(0, 400, 100):
            rows = [(key(k), v) for k, v in _kv_rows(lo, lo + 100)]
            db.append(name, spark.createDataFrame(rows, f"{ddl}, v string").coalesce(1))
        lo, hi = key(120), key(180)
        got = db.indexed_scan(name, {"k": (lo, hi)})
        assert len(got.inputFiles()) < len(db.table(name).inputFiles()) == 4, name
        want = _sorted_rows(db.scan(name, predicate=F.col("k").between(lo, hi)))
        assert len(want) == 61 and _sorted_rows(got) == want, name


def test_write_data_commits_one_file(db):
    db.write_data("events", ROWS * 64)
    assert db.versioned("events").history()[-1]["n_added"] == 1


# one column per write_data dtype; every value is exact in its type
ALL_DTYPES = TableMeta("all", [(f"c{i}", d) for i, d in enumerate(_DTYPES)])
ALL_ROWS = [
    [0, -(2**63), -(2**31), "", -1.25, 0.5, False,
     datetime.datetime(1970, 1, 1), b"", [], []],
    [2**63 - 1, 2**63 - 1, 2**31 - 1, "zoë", 1e300, -3.75, True,
     datetime.datetime(2024, 2, 29, 23, 59, 59, 999999), bytearray(b"\x00\xff"),
     [1.5, None], (2.5, -0.0)],
]


def test_write_data_round_trips_every_dtype(spark, tmp_path):
    assert list(_DTYPES) == [d for _, d in ALL_DTYPES.columns]
    db = Database.init(spark, str(tmp_path / "db"), [ALL_DTYPES])
    db.write_data("all", ALL_ROWS)
    got = sorted((list(r) for r in db.table("all").collect()), key=lambda r: r[0])
    want = [
        [bytes(v) if isinstance(v, bytearray) else list(v) if isinstance(v, tuple) else v
         for v in row]
        for row in ALL_ROWS
    ]
    assert got == want


def test_write_data_coerces_string_cells_like_create_data_frame(spark, tmp_path):
    values = [7, 2**70, 1e20, True, b"ab", datetime.date(2024, 1, 2), [1, "a"], {"k": 1}]
    db = Database.init(spark, str(tmp_path / "db"), [TableMeta("s", [("s", "string")])])
    db.write_data("s", [[v] for v in values])
    want = spark.createDataFrame([[v] for v in values], "s string").collect()
    assert sorted(r["s"] for r in db.table("s").collect()) == sorted(r["s"] for r in want)


@pytest.mark.parametrize(
    "column, value",
    [
        ("c0", 2**63),  # uint64 past the LongType ceiling
        ("c1", -(2**63) - 1),
        ("c2", 2**31),  # int32 range
        ("c0", "1"),  # wrong cell types: no coercion
        ("c0", True),
        ("c0", 1.0),
        ("c4", 1),  # an int is not a double
        ("c6", 1),
        ("c7", datetime.date(2024, 1, 1)),
        ("c8", "bytes"),
        ("c9", [1]),  # an int element in array<float>
        ("c10", "1.0"),
        ("c0", None),  # every column is non-nullable
        ("c3", None),
        ("c9", None),
    ],
)
def test_write_data_rejects_bad_cells_before_any_commit(spark, tmp_path, column, value):
    db = Database.init(spark, str(tmp_path / "db"), [ALL_DTYPES])
    bad = list(ALL_ROWS[1])
    bad[int(column[1:])] = value
    with pytest.raises(SchemaError):
        db.write_data("all", [ALL_ROWS[0], bad])
    assert db.versioned("all").latest_version() is None


def test_indexed_scan_takes_column_bounds(db):
    import pyspark.sql.functions as F

    db.write_data("events", ROWS)
    got = db.indexed_scan("events", {"timestamp": (F.lit(1005), 1010)}, columns=["id"])
    assert sorted(r["id"] for r in got.collect()) == [2, 3]


def test_build_index_rejects_unknown_column(db):
    with pytest.raises(SchemaError):
        db.build_index("events", ["no_such_column"])


def test_versioned_is_the_catalog_table(db):
    db.write_data("events", ROWS)
    vt = db.versioned("events")
    assert vt.latest_version() == 0
    assert sorted(list(r) for r in vt.read().collect()) == sorted(ROWS)


def test_table_before_any_write_is_empty(db):
    df = db.table("events")
    assert df.count() == 0
    assert df.columns == ["event", "timestamp", "id"]
    assert db.indexed_scan("events", {"id": (1, 2)}).count() == 0


def test_merge_rejects_duplicate_source_keys(spark, tmp_path):
    db = Database.init(spark, str(tmp_path / "db"), [KV])
    db.write_data("kv", _kv_rows(0, 10))
    src = spark.createDataFrame([(1, "a"), (1, "b")], "k long, v string")
    with pytest.raises(ValueError):
        db.merge("kv", src, ["k"])
    assert db.table("kv").count() == 10
