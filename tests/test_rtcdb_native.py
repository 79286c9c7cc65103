"""Native reference-format interchange: layout parity, round-trip, pruning.

The golden-bytes test reproduces the reference's own unit test
(src/storage.rs test_index_entry_to_bytes) against OUR encoder, pinning
byte-level layout parity without running any reference code.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from rtcdb_spark.sources.rtcdb_native import (
    _ENTRY,
    _decode_block,
    _encode_block,
    load_metadata,
    plan_blocks,
    read_rtcdb,
    write_rtcdb,
)

SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def test_index_entry_layout_matches_reference_golden_bytes():
    # reference src/storage.rs:113-130: entry(start=1, csize=2, dsize=3,
    # min=Uint64(4), max=String("longlonglong")) must serialize to these
    # exact 40 bytes.
    min8 = struct.pack(">Q", 4)
    max8 = b"longlonglong"[:8]
    got = _ENTRY.pack(1, 2, 3, min8, max8)
    expected = bytes(
        [0, 0, 0, 0, 0, 0, 0, 1]
        + [0, 0, 0, 0, 0, 0, 0, 2]
        + [0, 0, 0, 0, 0, 0, 0, 3]
        + [0, 0, 0, 0, 0, 0, 0, 4]
    ) + b"longlong"
    assert got == expected


def test_string_block_codec_roundtrip_and_prefix_minmax():
    raw, lo8, hi8 = _encode_block(["beta", "alpha", "a-very-long-string"], "String")
    assert _decode_block(raw, "String") == ["beta", "alpha", "a-very-long-string"]
    assert lo8 == b"a-very-l"  # first 8 bytes of the min (storage.rs:30-37)
    assert hi8 == b"beta\0\0\0\0"


def test_uint64_out_of_range_raises():
    with pytest.raises(ValueError):
        _encode_block([-1], "Uint64")
    with pytest.raises(ValueError):
        _decode_block(struct.pack(">Q", 1 << 63), "Uint64")


def test_write_read_roundtrip_and_append(spark, sf_smoke, tmp_path):
    from pyspark.sql import functions as F

    e = (
        spark.read.parquet(f"{sf_smoke}/events.parquet")
        .select("event_id", "event_type", "user_id")
        .limit(2500)
    )
    root = str(tmp_path / "db")
    assert write_rtcdb(e.filter(F.col("event_id") % 2 == 0), root, "events") > 0
    assert write_rtcdb(e.filter(F.col("event_id") % 2 == 1), root, "events") > 0
    back = read_rtcdb(spark, root, "events")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, e.collect()))


@settings(**SETTINGS)
@given(
    ids=st.lists(st.integers(0, 5000), min_size=1, max_size=400),
    lo=st.integers(0, 5000),
    span=st.integers(0, 2000),
)
def test_zone_map_pruning_is_sound(spark, tmp_path_factory, ids, lo, span):
    """Rows surviving the block-level zone maps must be exactly the rows a
    full-scan filter returns — pruning may keep extra blocks, never drop
    matching rows."""
    import pandas as pd

    root = str(tmp_path_factory.mktemp("zm"))
    df = spark.createDataFrame(
        pd.DataFrame({"k": sorted(ids), "tag": [f"s{v % 7}" for v in sorted(ids)]})
    ).selectExpr("CAST(k AS LONG) AS k", "tag")
    write_rtcdb(df, root, "t")
    hi = lo + span
    keep, _total = plan_blocks(root, "t", load_metadata(root), ("k", lo, hi))
    back = read_rtcdb(spark, root, "t").toPandas()
    # emulate a pruned scan: only rows from surviving blocks
    import math

    block_of = {i: i // 1024 for i in range(len(back))}
    pruned_rows = [
        int(back.k[i]) for i in range(len(back)) if block_of[i] in keep
    ]
    want = [v for v in sorted(ids) if lo <= v <= hi]
    got = [v for v in pruned_rows if lo <= v <= hi]
    assert got == want


def test_reads_reference_padded_files_via_offset_repair(spark, tmp_path):
    """Emulate the reference writer's actual (buggy) byte layout — each
    block padded to get_maximum_output_size while the index advances by
    compressed_size only (storage.rs:266-293) — and confirm the reader
    repairs the offsets and returns the right values."""
    import json
    import struct as st

    import pyarrow as pa

    from rtcdb_spark.sources.rtcdb_native import (
        _encode_block,
        _lz4_prealloc,
        read_rtcdb,
    )

    root = str(tmp_path / "refdb")
    import os

    os.makedirs(root)
    with open(f"{root}/metadata.json", "w") as f:
        json.dump(
            {"tables": [{"name": "t", "columns": [{"name": "k", "dtype": "Uint64"}]}]},
            f,
        )
    codec = pa.Codec("lz4_raw")
    values = list(range(2500))  # 3 blocks: 1024 + 1024 + 452
    pos = 0
    with open(f"{root}/t.k.data", "ab") as df_, open(f"{root}/t.k.index", "ab") as ix:
        for i in range(0, len(values), 1024):
            blk = values[i : i + 1024]
            raw, lo8, hi8 = _encode_block(blk, "Uint64")
            comp = bytes(codec.compress(raw))
            padded = comp + b"\0" * (_lz4_prealloc(len(raw)) - len(comp))
            df_.write(padded)  # the reference's write_all(&compress_output)
            ix.write(st.pack(">QQQ8s8s", pos, len(comp), len(raw), lo8, hi8))
            pos += len(comp)  # the reference's position += compressed_len
    back = sorted(r.k for r in read_rtcdb(spark, root, "t").collect())
    assert back == values


def test_datasource_filter_pushdown_prunes_blocks(spark, tmp_path):
    """pushFilters must shrink the planned block set via the zone maps AND
    the filtered read must equal the unpruned filter — pruning is a plan
    change, never a result change. (Synthetic 5000-row table: 5 blocks of
    1024, sorted so the zone maps are selective.)"""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    from rtcdb_spark.sources.rtcdb_native import RtcdbReader

    e = spark.range(5000).select(
        F.col("id").alias("event_id"),
        F.concat(F.lit("type"), (F.col("id") % 5).cast("string")).alias(
            "event_type"
        ),
    )
    root = str(tmp_path / "db")
    write_rtcdb(e.orderBy("event_id"), root, "events")

    reader = RtcdbReader(root, "events")
    n_all = sum(len(p.block_ids) for p in reader.partitions())
    leftover = list(
        reader.pushFilters(
            [GreaterThanOrEqual(("event_id",), 0), LessThanOrEqual(("event_id",), 100)]
        )
    )
    n_pruned = sum(len(p.block_ids) for p in reader.partitions())
    assert len(leftover) == 2  # every filter handed back for row-level eval
    assert n_pruned < n_all

    back = read_rtcdb(spark, root, "events").filter(
        (F.col("event_id") >= 0) & (F.col("event_id") <= 100)
    )
    got = sorted(r.event_id for r in back.collect())
    want = sorted(
        r.event_id
        for r in e.filter((F.col("event_id") >= 0) & (F.col("event_id") <= 100)).collect()
    )
    assert got == want


@settings(**SETTINGS)
@given(
    words=st.lists(
        st.text(alphabet="abcz\0", min_size=0, max_size=12),
        min_size=1,
        max_size=300,
    ),
    lo=st.text(alphabet="abcz\0", min_size=0, max_size=10),
    span=st.text(alphabet="abcz\0", min_size=0, max_size=4),
)
@example(words=["a", "a\0", "a\0\0b", "abcdefgh\0z"] * 300, lo="a\0", span="\0")
def test_string_zone_map_pruning_is_sound(spark, tmp_path_factory, words, lo, span):
    """String pruning uses the format's 8-byte index prefixes (truncation
    UNDERSTATES the max), so it must stay conservative: blocks surviving
    the zone maps must contain every row a full filter returns — including
    the nasty case where the true max extends past 8 bytes and the bound
    falls inside the truncated range."""
    import pandas as pd

    root = str(tmp_path_factory.mktemp("zms"))
    vals = sorted(words)
    df = spark.createDataFrame(pd.DataFrame({"s": vals, "k": range(len(vals))})
                               ).selectExpr("s", "CAST(k AS LONG) AS k")
    write_rtcdb(df, root, "t")
    hi = lo + span
    if hi < lo:
        lo, hi = hi, lo
    keep, _ = plan_blocks(root, "t", load_metadata(root), ("s", lo, hi))
    want = [v for v in vals if lo <= v <= hi]
    got = [
        v
        for i, v in enumerate(vals)
        if (i // 1024) in keep and lo <= v <= hi
    ]
    assert got == want


def test_append_onto_padded_reference_file_compacts_first(spark, tmp_path):
    """ADVICE r3 (medium): appending to a table written by the reference's
    padded writer must not corrupt it. write_rtcdb compacts the padded data
    file to spec layout first, so the combined table stays readable and the
    final file length matches the index exactly."""
    import json
    import os
    import struct as st

    import pyarrow as pa

    from rtcdb_spark.sources.rtcdb_native import _lz4_prealloc

    root = str(tmp_path / "refdb")
    os.makedirs(root)
    with open(f"{root}/metadata.json", "w") as f:
        json.dump(
            {"tables": [{"name": "t", "columns": [{"name": "k", "dtype": "Uint64"}]}]},
            f,
        )
    codec = pa.Codec("lz4_raw")
    old = list(range(2500))
    pos = 0
    with open(f"{root}/t.k.data", "ab") as df_, open(f"{root}/t.k.index", "ab") as ix:
        for i in range(0, len(old), 1024):
            raw, lo8, hi8 = _encode_block(old[i : i + 1024], "Uint64")
            comp = bytes(codec.compress(raw))
            df_.write(comp + b"\0" * (_lz4_prealloc(len(raw)) - len(comp)))
            ix.write(st.pack(">QQQ8s8s", pos, len(comp), len(raw), lo8, hi8))
            pos += len(comp)

    new = spark.range(3000, 3600).selectExpr("id AS k")
    assert write_rtcdb(new, root, "t") == 600
    back = sorted(r.k for r in read_rtcdb(spark, root, "t").collect())
    assert back == old + list(range(3000, 3600))
    # post-append the file is pure spec layout: length == sum(csize)
    from rtcdb_spark.sources.rtcdb_native import read_index

    entries = read_index(root, "t", "k")
    assert os.path.getsize(f"{root}/t.k.data") == sum(e[1] for e in entries)


def test_failed_write_never_leaves_columns_out_of_step(spark, tmp_path):
    """ADVICE r3: a mid-write value error (negative Long in a Uint64 column)
    must not leave some column files one block ahead of others."""
    import os

    root = str(tmp_path / "db")
    ok = spark.range(1500).selectExpr("id AS k", "CAST(id AS STRING) AS s")
    write_rtcdb(ok, root, "t")
    bad = spark.sql(
        "SELECT * FROM VALUES (CAST(1500 AS LONG), 'x'), (CAST(-1 AS LONG), 'y') t(k, s)"
    )
    with pytest.raises(Exception):
        write_rtcdb(bad, root, "t")
    # both columns must still describe the same block sequence
    from rtcdb_spark.sources.rtcdb_native import read_index

    nk = len(read_index(root, "t", "k"))
    ns = len(read_index(root, "t", "s"))
    assert nk == ns
    # and the table must still read cleanly
    back = read_rtcdb(spark, root, "t")
    assert back.count() % 1 == 0  # full scan decodes without error
    for col in ("k", "s"):
        entries = read_index(root, "t", col)
        assert os.path.getsize(f"{root}/t.{col}.data") == sum(e[1] for e in entries)


def test_failed_write_appends_no_rows(spark, tmp_path):
    """A range error in a late block must not leave the blocks before it
    appended: a write lands whole or not at all, and a table is registered
    in metadata.json only once its data has landed."""
    import os

    root = str(tmp_path / "db")
    write_rtcdb(spark.range(1000).selectExpr("id AS k", "CAST(id AS STRING) AS s"), root, "t")
    bad = spark.range(3000).selectExpr(
        "CASE WHEN id = 2500 THEN -1 ELSE id END AS k", "CAST(id AS STRING) AS s"
    ).coalesce(1)
    with pytest.raises(Exception, match="Uint64 out of range"):
        write_rtcdb(bad, root, "t")
    assert read_rtcdb(spark, root, "t").count() == 1000
    with pytest.raises(Exception, match="Uint64 out of range"):
        write_rtcdb(bad, root, "u")
    assert [t["name"] for t in load_metadata(root)["tables"]] == ["t"]
    assert not [n for n in os.listdir(root) if n.startswith("_stage-")]


def test_unsupported_schema_rejected_before_any_file_io(spark, tmp_path):
    import os

    root = str(tmp_path / "db")
    df = spark.range(10).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    with pytest.raises(TypeError, match="Long .* and String"):
        write_rtcdb(df, root, "t")
    assert not os.path.exists(os.path.join(root, "metadata.json"))


def test_wide_u64_reads_values_above_2_63(spark, tmp_path):
    """Genuine reference u64 values >= 2^63 (legal per storage.rs) raise a
    clear error under the default LongType mapping and read losslessly as
    DecimalType(20,0) with option("u64", "decimal")."""
    import json
    import os
    import struct as st

    import pyarrow as pa

    root = str(tmp_path / "refdb")
    os.makedirs(root)
    with open(f"{root}/metadata.json", "w") as f:
        json.dump(
            {"tables": [{"name": "t", "columns": [{"name": "k", "dtype": "Uint64"}]}]},
            f,
        )
    codec = pa.Codec("lz4_raw")
    vals = [(1 << 63) + 7, (1 << 64) - 1, 5]
    raw, lo8, hi8 = _encode_block(vals, "Uint64")
    comp = bytes(codec.compress(raw))
    with open(f"{root}/t.k.data", "wb") as df_, open(f"{root}/t.k.index", "wb") as ix:
        df_.write(comp)
        ix.write(st.pack(">QQQ8s8s", 0, len(comp), len(raw), lo8, hi8))

    with pytest.raises(Exception, match="u64|LongType"):
        read_rtcdb(spark, root, "t").collect()

    spark.dataSource.register(
        __import__(
            "rtcdb_spark.sources.rtcdb_native", fromlist=["RtcdbDataSource"]
        ).RtcdbDataSource
    )
    wide = (
        spark.read.format("rtcdb")
        .option("table", "t")
        .option("u64", "decimal")
        .load(root)
    )
    assert wide.schema["k"].dataType.simpleString() == "decimal(20,0)"
    assert sorted(int(r.k) for r in wide.collect()) == sorted(vals)


def test_distributed_write_roundtrip_multi_partition(spark, tmp_path):
    """Executor-parallel writer (VERDICT r3 item 6): a multi-partition
    frame written via mapInPandas staging + driver byte-finalize must read
    back identically, and the result must be appendable and byte-consistent
    (file length == sum of index csizes)."""
    import os

    from pyspark.sql import functions as F

    from rtcdb_spark.sources.rtcdb_native import (
        read_index,
        write_rtcdb_distributed,
    )

    e = spark.range(10000).repartition(7).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), (F.col("id") % 997).cast("string")).alias("s"),
    )
    root = str(tmp_path / "db")
    assert write_rtcdb_distributed(e, root, "t") == 10000
    back = read_rtcdb(spark, root, "t")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, e.collect()))
    # spec layout after finalize; a further driver-side append still works
    for col in ("k", "s"):
        entries = read_index(root, "t", col)
        assert os.path.getsize(f"{root}/t.{col}.data") == sum(x[1] for x in entries)
    extra = spark.range(10000, 10500).select(
        F.col("id").alias("k"), F.lit("tail").alias("s")
    )
    assert write_rtcdb(extra, root, "t") == 500
    assert read_rtcdb(spark, root, "t").count() == 10500


def test_in_list_filter_prunes_blocks(spark, tmp_path):
    """An IN-list on the sort key folds to its [min,max] envelope for
    zone-map pruning — the planned block set shrinks and the result equals
    the unpruned filter."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import In

    from rtcdb_spark.sources.rtcdb_native import RtcdbReader

    e = spark.range(5000).select(F.col("id").alias("k"))
    root = str(tmp_path / "db")
    write_rtcdb(e.orderBy("k"), root, "t")

    reader = RtcdbReader(root, "t")
    n_all = sum(len(p.block_ids) for p in reader.partitions())
    leftover = list(reader.pushFilters([In(("k",), (10, 40, 99))]))
    n_pruned = sum(len(p.block_ids) for p in reader.partitions())
    assert len(leftover) == 1
    assert n_pruned < n_all

    back = read_rtcdb(spark, root, "t").filter(F.col("k").isin(10, 40, 99))
    assert sorted(r.k for r in back.collect()) == [10, 40, 99]


class TestIndexStats:
    """Index-only aggregates (round 5): exact min/max/count from the
    40-byte entries with zero block decodes."""

    def test_exact_over_multi_block_and_tail(self, spark, tmp_path):
        from rtcdb_spark.sources.rtcdb_native import index_stats, write_rtcdb

        d = spark.range(0, 2500).selectExpr(
            "id + 7 AS k", "(id * 13) % 1009 AS v"
        )
        write_rtcdb(d, str(tmp_path), "t")
        sk = index_stats(str(tmp_path), "t", "k")
        sv = index_stats(str(tmp_path), "t", "v")
        assert sk == {"min": 7, "max": 2506, "n_rows": 2500, "n_blocks": 3}
        assert sv["min"] == 0 and sv["max"] == 1008 and sv["n_rows"] == 2500

    def test_string_columns_refused(self, spark, tmp_path):
        import pytest

        from rtcdb_spark.sources.rtcdb_native import index_stats, write_rtcdb

        d = spark.range(0, 10).selectExpr("id AS k", "CAST(id AS STRING) AS s")
        write_rtcdb(d, str(tmp_path), "t")
        with pytest.raises(ValueError, match="prefix"):
            index_stats(str(tmp_path), "t", "s")
