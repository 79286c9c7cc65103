"""Structured Streaming operators produce the same answers as their batch twins.

Strategy: split the sf0.001 events into three time-ordered parquet files, feed
them through the file streaming source one-per-micro-batch (maxFilesPerTrigger),
run each stateful operator to completion with trigger(availableNow=True), and
compare against the identical batch aggregation over the same data. This
exercises multi-batch state merge + watermark advancement, which a single-batch
run would not.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rtcdb_spark.queries.base import dsum
from rtcdb_spark.sources import load_table
from rtcdb_spark.streaming import (
    read_events_stream,
    run_available_now,
    stream_dedup,
    stream_session,
    stream_tumbling,
    stream_user_running_totals,
)


@pytest.fixture(scope="module")
def stream_dir(spark, sf_smoke, tmp_path_factory) -> str:
    """Events (ts already TIMESTAMP_NTZ) split into 3 time-ranged files."""
    root = str(tmp_path_factory.mktemp("events_stream"))
    e = load_table(spark, sf_smoke, "events").orderBy("ts")
    splits = e.select(
        F.percentile_approx("ts", [1 / 3, 2 / 3], 10000).alias("qs")
    ).first()["qs"]
    lo, hi = splits[0], splits[1]
    parts = [
        e.filter(F.col("ts") <= F.lit(lo)),
        e.filter((F.col("ts") > F.lit(lo)) & (F.col("ts") <= F.lit(hi))),
        e.filter(F.col("ts") > F.lit(hi)),
    ]
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(root)
    return root


def _batch_events(spark, stream_dir):
    return spark.read.parquet(stream_dir)


def _collect_sorted(df, *cols):
    return [tuple(r) for r in df.orderBy(*cols).collect()]


def test_stream_tumbling_matches_batch(spark, sf_smoke, stream_dir):
    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    got = run_available_now(stream_tumbling(sdf), output_mode="complete")
    e = _batch_events(spark, stream_dir)
    want = (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", alias="total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    key = ["window_start", "event_type"]
    assert _collect_sorted(got, *key) == _collect_sorted(want, *key)


def test_stream_session_matches_batch(spark, sf_smoke, stream_dir):
    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    got = run_available_now(stream_session(sdf), output_mode="complete")
    e = _batch_events(spark, stream_dir)
    want = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", alias="total_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )
    key = ["user_id", "session_start"]
    assert _collect_sorted(got, *key) == _collect_sorted(want, *key)


def test_stream_dedup(spark, sf_smoke, stream_dir):
    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    got = run_available_now(stream_dedup(sdf), output_mode="append")
    e = _batch_events(spark, stream_dir)
    n_distinct = e.select("event_id").distinct().count()
    assert got.count() == n_distinct
    assert got.select("event_id").distinct().count() == n_distinct


def test_stream_running_totals_single_batch(spark, sf_smoke, stream_dir):
    # One micro-batch -> exactly one emitted row per user == the batch answer.
    sdf = read_events_stream(spark, sf_smoke, path=stream_dir)
    got = run_available_now(stream_user_running_totals(sdf), output_mode="update")
    e = _batch_events(spark, stream_dir)
    want = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )
    g = {r["user_id"]: r["n_events"] for r in got.collect()}
    w = {r["user_id"]: r["n_events"] for r in want.collect()}
    assert g == w


def test_stream_running_totals_multi_batch(spark, sf_smoke, stream_dir):
    # Per-batch updates: the max n_events per user is the final running count.
    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    got = run_available_now(stream_user_running_totals(sdf), output_mode="update")
    final = got.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    e = _batch_events(spark, stream_dir)
    want = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    g = {r["user_id"]: r["n_events"] for r in final.collect()}
    w = {r["user_id"]: r["n_events"] for r in want.collect()}
    assert g == w


def test_stream_stream_join_matches_batch(spark, sf_smoke, stream_dir):
    from rtcdb_spark.streaming import stream_stream_join

    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    got = run_available_now(
        stream_stream_join(
            sdf.filter(F.col("event_type") == "click"),
            sdf.filter(F.col("event_type") == "purchase"),
        ),
        output_mode="append",
    )
    e = _batch_events(spark, stream_dir)
    c = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    want = c.join(
        p,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 2 HOURS")),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )
    assert _collect_sorted(got, "user_id", "click_id", "purchase_id") == _collect_sorted(
        want, "user_id", "click_id", "purchase_id"
    )
    assert got.count() > 0


def test_stream_value_stats_matches_batch(spark, sf_smoke, stream_dir):
    from rtcdb_spark.streaming import (
        stream_user_value_stats,
        transform_with_state_available,
    )

    if not transform_with_state_available():
        pytest.skip("transformWithStateInPandas needs the protobuf runtime")

    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    got_all = run_available_now(stream_user_value_stats(sdf), output_mode="update")
    # update mode emits one row per user per batch; the LAST emission per
    # user is the final running stat
    w_last = F.row_number().over(
        __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
            "user_id"
        ).orderBy(F.desc("n_events"))
    )
    got = (
        got_all.withColumn("rn", w_last).filter(F.col("rn") == 1).drop("rn")
    )
    e = _batch_events(spark, stream_dir)
    want = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    got_rows = [
        (r["user_id"], r["n_events"], round(r["total_value"], 6), r["min_value"], r["max_value"])
        for r in got.orderBy("user_id").collect()
    ]
    want_rows = [
        (r["user_id"], r["n_events"], round(r["total_value"], 6), r["min_value"], r["max_value"])
        for r in want.orderBy("user_id").collect()
    ]
    assert got_rows == want_rows


def test_file_sink_exactly_once_across_restarts(spark, sf_smoke, stream_dir, tmp_path):
    from rtcdb_spark.streaming.sinks import stream_to_parquet

    out = str(tmp_path / "sink_out")
    ckpt = str(tmp_path / "sink_ckpt")

    def run():
        sdf = read_events_stream(
            spark, sf_smoke, max_files_per_trigger=1, path=stream_dir
        )
        stream_to_parquet(sdf, out, ckpt, min_value=0.0)

    run()
    want = _batch_events(spark, stream_dir).filter(F.col("value") >= 0.0).count()
    got1 = spark.read.parquet(out).count()
    assert got1 == want
    # Restart with the same checkpoint and no new input: every batch is
    # already committed, so the sink must not grow (exactly-once).
    run()
    got2 = spark.read.parquet(out).count()
    assert got2 == want
    # Distinct event_ids — no duplicate rows snuck in via partial replays.
    assert spark.read.parquet(out).select("event_id").distinct().count() == want


def test_foreach_batch_snapshot_matches_batch(spark, sf_smoke, stream_dir, tmp_path):
    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming.sinks import stream_agg_foreach_batch

    out = str(tmp_path / "agg_out")
    ckpt = str(tmp_path / "agg_ckpt")
    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    stream_agg_foreach_batch(sdf, out, ckpt)
    got = VersionedTable(spark, out).read()
    want = (
        _batch_events(spark, stream_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", alias="total_value"))
    )
    assert _collect_sorted(got, "event_type") == _collect_sorted(want, "event_type")


def test_stream_rollup_cascade_matches_batch(spark, sf_smoke, stream_dir, tmp_path):
    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming.sinks import stream_rollup_cascade

    out = str(tmp_path / "rollup_out")
    ckpt = str(tmp_path / "rollup_ckpt")
    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    stream_rollup_cascade(sdf, out, ckpt)
    e = _batch_events(spark, stream_dir)
    for level in ("minute", "hour", "day"):
        got = VersionedTable(spark, f"{out}/{level}").read().select(
            "bucket", "n_events", F.col("sdec").cast("double").alias("tv")
        )
        want = e.groupBy(F.date_trunc(level, "ts").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("tv"),
        )
        assert _collect_sorted(got, "bucket") == _collect_sorted(want, "bucket"), level


def test_stream_enrich_static_multi_batch(spark, sf_smoke, stream_dir):
    # stream-static broadcast join across multiple micro-batches must equal
    # the batch join+aggregate (stateless join; complete-mode agg re-emits)
    from rtcdb_spark.sources import load_table
    from rtcdb_spark.streaming import stream_enrich_static

    sdf = read_events_stream(spark, sf_smoke, max_files_per_trigger=1, path=stream_dir)
    customers = load_table(spark, sf_smoke, "customer")
    got = run_available_now(stream_enrich_static(sdf, customers), output_mode="complete")
    e = _batch_events(spark, stream_dir)
    want = (
        e.join(
            customers.select("c_custkey", "c_mktsegment"),
            e["user_id"] == F.col("c_custkey"),
        )
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", alias="total_value"))
    )
    key = ["segment", "event_type"]
    assert _collect_sorted(got, *key) == _collect_sorted(want, *key)


def test_versioned_sink_idempotence_is_writer_scoped(
    spark, sf_smoke, stream_dir, tmp_path
):
    """ADVICE r4 low: the versioned sink's idempotence key must include an
    app id. Same writer replaying (same app_id, fresh checkpoint) is
    skipped; a DIFFERENT writer with its own batch-id sequence must NOT be
    skipped — a bare batch-id key silently dropped the second stream."""
    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming.sinks import stream_to_versioned

    def _stream():
        return (
            spark.readStream.schema(spark.read.parquet(stream_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )

    table = str(tmp_path / "table")
    stream_to_versioned(_stream(), table, str(tmp_path / "cp1"), app_id="w1")
    vt = VersionedTable(spark, table)
    n1 = len(vt.versions())
    rows1 = vt.read().count()

    # replay as the SAME writer: no growth
    stream_to_versioned(_stream(), table, str(tmp_path / "cp2"), app_id="w1")
    assert len(vt.versions()) == n1

    # a DIFFERENT writer also starting at batch 0 must commit its batches
    stream_to_versioned(_stream(), table, str(tmp_path / "cp3"), app_id="w2")
    assert len(vt.versions()) == 2 * n1
    assert vt.read().count() == 2 * rows1

    # default app_id is the checkpoint dir: a fourth run with a fresh
    # checkpoint and no explicit app_id is a new writer, not a replay
    stream_to_versioned(_stream(), table, str(tmp_path / "cp4"))
    assert len(vt.versions()) == 3 * n1


_EVENTS_DDL = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"


def _cdc_batches():
    """Three micro-batches of CDC events: keys recur across batches, a
    later batch carries an OLDER event for a key (must not regress it), a
    (ts) tie is broken by event_id, and user 2 is tombstoned ('error')
    and then upserted again by a newer event."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, sec, user, etype):
        return (eid, t0 + dt.timedelta(seconds=sec), user, etype, float(eid))

    return [
        [ev(1, 0, 1, "click"), ev(2, 10, 2, "view"), ev(3, 70, 1, "view")],
        [ev(4, 80, 2, "error"), ev(5, 5, 1, "purchase"), ev(6, 130, 3, "click")],
        [ev(7, 140, 2, "click"), ev(8, 130, 3, "view"), ev(9, 20, 2, "view")],
    ]


def _file_stream(spark, root, batches):
    """Write each batch as one parquet file under ``root``; returns a
    function that opens a stream delivering one file per micro-batch."""
    import time

    for rows in batches:
        spark.createDataFrame(rows, _EVENTS_DDL).coalesce(1).write.mode(
            "append"
        ).parquet(root)
        time.sleep(0.05)  # the file source orders files by mtime

    def stream():
        return (
            spark.readStream.schema(_EVENTS_DDL)
            .option("maxFilesPerTrigger", 1)
            .parquet(root)
        )

    return stream


def _forget_last_commit(ckpt: str) -> str:
    """Simulate a driver crash after the sink committed the last batch but
    before the checkpoint recorded it: drop the batch's entry from the
    checkpoint's commit log, so a restart replays that batch id. Returns
    the dropped entry's path."""
    import os

    commits = os.path.join(ckpt, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        path = os.path.join(commits, name)
        if os.path.exists(path):
            os.remove(path)
    return os.path.join(commits, str(last))


def _table_state(spark, root):
    from rtcdb_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, root)
    return vt.versions(), sorted(tuple(r) for r in vt.read().collect())


def test_cdc_tombstones_replay_from_same_checkpoint_commits_nothing(
    spark, tmp_path
):
    """A batch replayed from the SAME checkpoint (crash between commit and
    checkpoint write) finds its txn in the table's ledger: no version is
    added and the served snapshot is unchanged."""
    import os

    from rtcdb_spark.streaming.sinks import (
        read_cdc_snapshot,
        stream_cdc_with_tombstones,
    )

    stream = _file_stream(spark, str(tmp_path / "in"), _cdc_batches())
    out, ckpt = str(tmp_path / "snap"), str(tmp_path / "ckpt")
    stream_cdc_with_tombstones(stream(), out, ckpt)
    before = _table_state(spark, out)
    served = sorted(tuple(r) for r in read_cdc_snapshot(spark, out).collect())
    assert sorted(r[2] for r in served) == [1, 2, 3]

    dropped = _forget_last_commit(ckpt)
    stream_cdc_with_tombstones(stream(), out, ckpt)
    assert os.path.exists(dropped), "the last batch was not replayed"
    assert _table_state(spark, out) == before
    assert sorted(tuple(r) for r in read_cdc_snapshot(spark, out).collect()) == served


def test_rollup_cascade_replay_from_same_checkpoint_commits_nothing(
    spark, tmp_path
):
    """Replaying the cascade's last batch from the same checkpoint adds no
    version to any level. When the crash came after the minute commit but
    before the hour and day commits, the replay skips the minute commit
    (draining the batch, so the upstream state stores still commit) and
    re-derives hour and day from the committed minute snapshot."""
    import os

    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming.sinks import stream_rollup_cascade

    stream = _file_stream(spark, str(tmp_path / "in"), _cdc_batches())
    out, ckpt = str(tmp_path / "levels"), str(tmp_path / "ckpt")
    levels = ("minute", "hour", "day")
    stream_rollup_cascade(stream(), out, ckpt)
    before = {lv: _table_state(spark, f"{out}/{lv}") for lv in levels}
    rows = [r for batch in _cdc_batches() for r in batch]
    assert sum(r[1] for r in before["day"][1]) == len(rows)

    # crash after all three commits of the last batch
    dropped = _forget_last_commit(ckpt)
    stream_rollup_cascade(stream(), out, ckpt)
    assert os.path.exists(dropped), "the last batch was not replayed"
    assert {lv: _table_state(spark, f"{out}/{lv}") for lv in levels} == before

    # crash after the minute commit, before the hour and day commits
    for lv in ("hour", "day"):
        vt = VersionedTable(spark, f"{out}/{lv}")
        os.remove(vt._manifest_path(vt.latest_version()))
    dropped = _forget_last_commit(ckpt)
    stream_rollup_cascade(stream(), out, ckpt)
    assert os.path.exists(dropped), "the last batch was not replayed"
    assert {lv: _table_state(spark, f"{out}/{lv}") for lv in levels} == before


def test_cdc_upsert_each_version_is_the_batch_answer_so_far(spark, tmp_path):
    """One version per micro-batch, and version k holds exactly each key's
    max_by (ts, event_id) row over batches 0..k."""
    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming.sinks import stream_cdc_upsert

    batches = _cdc_batches()
    stream = _file_stream(spark, str(tmp_path / "in"), batches)
    out = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    stream_cdc_upsert(stream(), out, ckpt)
    vt = VersionedTable(spark, out)
    assert vt.versions() == list(range(len(batches)))
    for v in vt.versions():
        k = vt._read_manifest_raw(v)["txns"][ckpt]
        latest: dict = {}
        for r in (r for batch in batches[: k + 1] for r in batch):
            if r[2] not in latest or (r[1], r[0]) > (latest[r[2]][1], latest[r[2]][0]):
                latest[r[2]] = r
        got = vt.read(v).select("event_id", "ts", "user_id", "event_type", "value")
        assert sorted(tuple(r) for r in got.collect()) == sorted(latest.values()), v


# ---------------------------------------------------------------------------
# Streaming near-dup dedup (banded SimHash over arbitrary state)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def docs_stream_dir(spark, sf_smoke, tmp_path_factory) -> str:
    """Documents split into 3 id-ordered files (the arrival-order contract:
    micro-batches must not interleave doc_ids)."""
    import os

    root = str(tmp_path_factory.mktemp("docs_stream"))
    d = load_table(spark, sf_smoke, "documents")
    n = d.count()
    cuts = [n // 3, 2 * n // 3]
    parts = [
        d.filter(F.col("doc_id") < cuts[0]),
        d.filter((F.col("doc_id") >= cuts[0]) & (F.col("doc_id") < cuts[1])),
        d.filter(F.col("doc_id") >= cuts[1]),
    ]
    for i, p in enumerate(parts):
        sub = os.path.join(root, f"slice-{i}")
        p.coalesce(1).write.mode("overwrite").parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(root, f"slice-{i}.parquet")
                os.rename(os.path.join(sub, f), dst)
                # FileStreamSource orders by mtime: force slice order.
                os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
    return root


def _brute_force_near_dup_flags(spark, sf_smoke, max_hamming=3):
    """Oracle semantics: doc is a near-dup iff some smaller-id doc is within
    the Hamming radius (all-pairs on the collected signatures)."""
    from rtcdb_spark.functions.dedup import simhash64

    sigs = sorted(
        (r.doc_id, r.sim_hi, r.sim_lo)
        for r in simhash64(load_table(spark, sf_smoke, "documents")).collect()
    )
    flags = {}
    for i, (di, hi, lo) in enumerate(sigs):
        flags[di] = any(
            ((hi ^ hj).bit_count() + (lo ^ lj).bit_count()) <= max_hamming
            for dj, hj, lj in sigs[:i]
        )
    return flags


def test_simhash_rowwise_equals_groupby(spark, sf_smoke):
    from rtcdb_spark.functions.dedup import simhash64, simhash64_rowwise

    d = load_table(spark, sf_smoke, "documents")
    a = {r.doc_id: (r.sim_hi, r.sim_lo) for r in simhash64(d).collect()}
    b = {r.doc_id: (r.sim_hi, r.sim_lo) for r in simhash64_rowwise(d).collect()}
    assert a == b


def test_stream_near_dedup_multi_batch_matches_brute_force(
    spark, sf_smoke, docs_stream_dir
):
    """3 micro-batches of id-ordered arrivals: per-band capped state must
    reproduce the all-pairs definition exactly (pigeonhole recall at r<=3)."""
    from rtcdb_spark.streaming import stream_near_dedup_simhash
    from rtcdb_spark.streaming.events import read_table_stream

    sdf = read_table_stream(
        spark, sf_smoke, "documents", max_files_per_trigger=1, path=docs_stream_dir
    )
    out = run_available_now(stream_near_dedup_simhash(sdf), output_mode="append")
    got = {
        r.doc_id: bool(r.dup)
        for r in out.groupBy("doc_id").agg(F.max("is_dup").alias("dup")).collect()
    }
    want = _brute_force_near_dup_flags(spark, sf_smoke)
    assert got == want
    assert any(got.values())  # fixture contains near-dups; test isn't vacuous


def test_stream_near_dedup_capped_state_never_invents_dups(
    spark, sf_smoke, docs_stream_dir
):
    """With a pathologically small bucket cap, recall may drop but every
    flagged doc must still be a true near-dup (flags subset of brute force):
    capped state holds genuinely-earlier docs only."""
    from rtcdb_spark.streaming import stream_near_dedup_simhash
    from rtcdb_spark.streaming.events import read_table_stream

    sdf = read_table_stream(
        spark, sf_smoke, "documents", max_files_per_trigger=1, path=docs_stream_dir
    )
    out = run_available_now(
        stream_near_dedup_simhash(sdf, max_bucket=2), output_mode="append"
    )
    got = {
        r.doc_id: bool(r.dup)
        for r in out.groupBy("doc_id").agg(F.max("is_dup").alias("dup")).collect()
    }
    want = _brute_force_near_dup_flags(spark, sf_smoke)
    assert all(want[d] for d, f in got.items() if f)


def _write_slices(root, parts):
    """Write DataFrames as single parquet files with forced mtime order."""
    import os

    for i, p in enumerate(parts):
        sub = os.path.join(root, f"slice-{i}")
        p.coalesce(1).write.mode("overwrite").parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(root, f"slice-{i}.parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (1_000_000_000 + i * 1000,) * 2)


def test_stream_near_dedup_unordered_matches_brute_force(
    spark, sf_smoke, tmp_path_factory
):
    """The watermark-buffered variant reproduces the id-order semantics on
    a feed whose micro-batches interleave ids (bounded disorder): docs are
    scattered across 3 slices by a +/-40-id deterministic jitter, fed
    oldest-slice-first, with ts = 1000 + doc_id seconds and a 100 s
    watermark delay bounding the disorder. A trailing sentinel (huge ts)
    flushes the tail past the final watermark. (ts is offset from the
    epoch: a row whose event time EQUALS the initial watermark of 0 is
    dropped by Spark's late-record filter — the boundary the operator
    docstring documents.)"""
    from rtcdb_spark.streaming import (
        run_available_now,
        stream_near_dedup_simhash_unordered,
    )
    from rtcdb_spark.streaming.events import read_table_stream

    root = str(tmp_path_factory.mktemp("docs_unordered"))
    d = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    n = d.count()
    jittered = d.withColumn(
        # pmod: Spark's % follows xxhash64's sign; ±40 must hold so the
        # 100 s watermark bounds the id disorder (ADVICE r6)
        "slot", F.col("doc_id") + (F.pmod(F.xxhash64("doc_id"), F.lit(81)) - 40)
    )
    cuts = [n // 3, 2 * n // 3]
    parts = [
        jittered.filter(F.col("slot") < cuts[0]).drop("slot"),
        jittered.filter(
            (F.col("slot") >= cuts[0]) & (F.col("slot") < cuts[1])
        ).drop("slot"),
        jittered.filter(F.col("slot") >= cuts[1]).drop("slot"),
    ]
    # trailing flush: one sentinel doc (id -1) whose ts exceeds max+delay
    sentinel = spark.createDataFrame(
        [(-1, "flush")], "doc_id bigint, text string"
    )
    _write_slices(root, parts + [sentinel])
    sdf = read_table_stream(
        spark, sf_smoke, "documents", max_files_per_trigger=1, path=root
    ).select(
        "doc_id",
        "text",
        F.when(
            F.col("doc_id") < 0,
            F.timestamp_seconds(F.lit(n + 101_000)),
        )
        .otherwise(F.timestamp_seconds(F.col("doc_id") + 1000))
        .alias("ts"),
    )
    out = run_available_now(
        stream_near_dedup_simhash_unordered(sdf, delay="100 seconds"),
        output_mode="append",
    )
    got = {
        r.doc_id: bool(r.dup)
        for r in out.groupBy("doc_id").agg(F.max("is_dup").alias("dup")).collect()
    }
    want = _brute_force_near_dup_flags(spark, sf_smoke)
    assert got == want  # every real doc emitted; sentinel never finalizes
    assert any(got.values())


def test_stream_near_dedup_detects_interleaved_arrival(
    spark, sf_smoke, tmp_path_factory
):
    """The id-ordered arrival contract is enforced: feeding the HIGH id
    range before the LOW one must raise the contract violation instead of
    silently flipping which doc of a near-dup pair survives."""
    import os

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from rtcdb_spark.streaming import stream_near_dedup_simhash
    from rtcdb_spark.streaming.events import read_table_stream

    root = str(tmp_path_factory.mktemp("docs_interleaved"))
    d = load_table(spark, sf_smoke, "documents")
    n = d.count()
    parts = [  # deliberately out of order: ids >= n/2 arrive first
        d.filter(F.col("doc_id") >= n // 2),
        d.filter(F.col("doc_id") < n // 2),
    ]
    for i, p in enumerate(parts):
        sub = os.path.join(root, f"slice-{i}")
        p.coalesce(1).write.mode("overwrite").parquet(sub)
        for f in os.listdir(sub):
            if f.endswith(".parquet"):
                dst = os.path.join(root, f"slice-{i}.parquet")
                os.rename(os.path.join(sub, f), dst)
                os.utime(dst, (1_000_000_000 + i * 1000,) * 2)
    sdf = read_table_stream(
        spark, sf_smoke, "documents", max_files_per_trigger=1, path=root
    )
    with pytest.raises(StreamingQueryException) as exc:
        run_available_now(
            stream_near_dedup_simhash(sdf), output_mode="append"
        )
    assert "id-ordered arrival contract violated" in str(exc.value)


def test_stream_ingest_near_dedup_versioned_multi_batch_and_replay(
    spark, sf_smoke, docs_stream_dir, tmp_path
):
    """3 micro-batches through the dedup gate into the versioned table:
    survivors equal the brute-force definition, one commit per batch, and a
    full second RUN over the same input (fresh checkpoint, same app_id)
    replays every batch as already-committed — table unchanged."""
    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming import stream_ingest_near_dedup_to_versioned
    from rtcdb_spark.streaming.events import read_table_stream

    root = str(tmp_path / "table")
    static = load_table(spark, sf_smoke, "documents")

    def run(ckpt: str) -> None:
        sdf = read_table_stream(
            spark, sf_smoke, "documents",
            max_files_per_trigger=1, path=docs_stream_dir,
        )
        stream_ingest_near_dedup_to_versioned(
            sdf, static, root, ckpt, app_id="ingest-test"
        )

    run(str(tmp_path / "ckpt1"))
    vt = VersionedTable(spark, root)
    v1 = vt.latest_version()
    got = sorted(r.doc_id for r in vt.read().select("doc_id").collect())
    want = sorted(
        d for d, f in _brute_force_near_dup_flags(spark, sf_smoke).items() if not f
    )
    assert got == want
    n_batches = 3
    assert v1 + 1 >= n_batches  # one commit per non-empty micro-batch

    # Second run, same app_id: every batch id is already in the ledger.
    run(str(tmp_path / "ckpt2"))
    assert VersionedTable(spark, root).latest_version() == v1
    got2 = sorted(r.doc_id for r in VersionedTable(spark, root).read()
                  .select("doc_id").collect())
    assert got2 == want


def test_versioned_sink_autocompact_bounds_file_count(
    spark, sf_smoke, stream_dir, tmp_path
):
    """Auto-compaction: with 3 one-file micro-batches and a 2-file
    threshold, the sink's inline incremental optimize keeps the manifest's
    file count bounded while content and exactly-once replay semantics are
    untouched."""
    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming.sinks import stream_to_versioned

    def _stream():
        return (
            spark.readStream.schema(spark.read.parquet(stream_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )

    table = str(tmp_path / "table")
    stream_to_versioned(
        _stream(), table, str(tmp_path / "cp1"), app_id="w1",
        autocompact_files=2, autocompact_bytes=1 << 30,
    )
    vt = VersionedTable(spark, table)
    head = vt.latest_version()
    m = vt._read_manifest(head)
    assert m["n_files"] == 1, f"autocompact left {m['n_files']} files"
    assert m["op"] == "optimize"
    want = spark.read.parquet(stream_dir).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    assert vt.read().count() == want.count()
    assert sorted(r.event_id for r in vt.read().collect()) == sorted(
        r.event_id for r in want.collect()
    )

    # replay as the same writer: batches skip BEFORE any compaction runs
    n_versions = len(vt.versions())
    stream_to_versioned(
        _stream(), table, str(tmp_path / "cp2"), app_id="w1",
        autocompact_files=2, autocompact_bytes=1 << 30,
    )
    assert len(vt.versions()) == n_versions


def test_versioned_sink_replay_after_compaction_and_vacuum_commits_nothing(
    spark, sf_smoke, stream_dir, tmp_path
):
    """The writer's txn high-water mark rides in every manifest, so the
    sink's auto-compaction commit carries it and a vacuum that keeps only
    that commit loses nothing: replaying the last batch from the SAME
    checkpoint (crash between commit and checkpoint write) commits no
    version and no row."""
    import os

    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming.sinks import stream_to_versioned

    def _run():
        stream_to_versioned(
            spark.readStream.schema(spark.read.parquet(stream_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir),
            table, ckpt, autocompact_files=2, autocompact_bytes=1 << 30,
        )

    table, ckpt = str(tmp_path / "table"), str(tmp_path / "ckpt")
    _run()
    vt = VersionedTable(spark, table)
    assert vt._read_manifest_raw(vt.latest_version())["op"] == "optimize"
    vt.vacuum(keep_last=1, retention_seconds=0)
    assert len(vt.versions()) == 1
    want = sorted(r.event_id for r in spark.read.parquet(stream_dir).collect())
    assert sorted(r.event_id for r in vt.read().collect()) == want

    dropped = _forget_last_commit(ckpt)
    _run()
    assert os.path.exists(dropped), "the last batch was not replayed"
    assert len(vt.versions()) == 1
    assert sorted(r.event_id for r in vt.read().collect()) == want


def test_versioned_sink_autocompact_zorder_clusters(
    spark, sf_smoke, stream_dir, tmp_path
):
    """autocompact_zorder_by: the inline compaction Morton-clusters the
    stream's files, so manifest stats prune on BOTH listed dimensions of
    the compacted output — continuously clustered ingest with content
    identical to a plain append sink."""
    from rtcdb_spark.sources.versioned import VersionedTable
    from rtcdb_spark.streaming.sinks import stream_to_versioned

    def _stream():
        return (
            spark.readStream.schema(spark.read.parquet(stream_dir).schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )

    table = str(tmp_path / "table")
    stream_to_versioned(
        _stream(), table, str(tmp_path / "cp"), app_id="w1",
        autocompact_files=2, autocompact_bytes=1 << 30,
        autocompact_zorder_by=["user_id", "value"],
    )
    vt = VersionedTable(spark, table)
    m = vt._read_manifest(vt.latest_version())
    assert m["op"] == "optimize"
    want = spark.read.parquet(stream_dir)
    assert vt.read().count() == want.count()
    # every compacted file carries stats on both z-ordered columns
    stats = vt.file_stats()
    for f in m["files"]:
        assert "user_id" in stats[f] and "value" in stats[f]
    # and a mid-domain user range plans fewer files than the table holds
    # when the compaction produced more than one file; with target_files=1
    # the property degenerates, so force a multi-file z-ordered optimize
    vt.optimize(target_files=4, zorder_by=["user_id", "value"])
    lo, hi = vt.min_max("user_id")
    keep, total = vt.plan_files("user_id", lo, lo + (hi - lo) // 8)
    assert len(keep) < total


def test_stream_dedup_update_dict_matches_reference():
    """The round-7 dict-of-sub-buckets state layout must be bit-identical
    to a straightforward whole-shard reference implementation, including
    per-sub-bucket cap binding (no Spark needed — drives the update
    closure directly)."""
    import numpy as np
    import pandas as pd

    from rtcdb_spark.streaming.dedup import _make_update, _popcount64

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    def reference(pdf, max_hamming, max_bucket):
        seen = {}  # band_val -> list[(id, hi, lo)]
        flags = []
        for doc_id, band_val, hi, lo in pdf.itertuples(index=False):
            bucket = seen.setdefault(band_val, [])
            dup = any(
                int(_popcount64(np.array([h ^ hi], dtype=np.int64))[0])
                + int(_popcount64(np.array([l ^ lo], dtype=np.int64))[0])
                <= max_hamming
                for _, h, l in bucket
            )
            flags.append((int(doc_id), dup))
            if len(bucket) < max_bucket:
                bucket.append((int(doc_id), int(hi), int(lo)))
        return flags, seen

    rng = np.random.default_rng(11)
    n = 2000
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n),
            "band_val": rng.integers(0, 6, n),  # few buckets → caps bind
            # tiny value space → plenty of near-collisions within radius
            "sim_hi": rng.integers(0, 8, n),
            "sim_lo": rng.integers(0, 8, n),
        }
    )
    max_hamming, max_bucket = 3, 50
    upd = _make_update(max_hamming, max_bucket)
    st = FakeState()
    halves = [pdf.iloc[:1000], pdf.iloc[1000:]]  # two micro-batches
    got = []
    for h in halves:
        for out in upd((0, 0), [h], st):
            got.extend(zip(out["doc_id"].tolist(), out["is_dup"].tolist()))
    want, want_seen = reference(pdf, max_hamming, max_bucket)
    assert got == want
    # persisted state (flattened parallel arrays) holds the same seen-set
    vals, ids, his, los, max_id = st.get
    got_seen = {}
    for v, i, h, lo in zip(vals, ids, his, los):
        got_seen.setdefault(v, []).append((i, h, lo))
    assert {k: sorted(v) for k, v in got_seen.items()} == {
        k: sorted(v) for k, v in want_seen.items() if v
    }
    assert max_id == n - 1


def test_stream_to_delta_exactly_once(spark, sf_smoke, stream_dir, tmp_path):
    """The Delta sink's txn ledger lives in the table's own log: a replay
    from a FRESH checkpoint (worst case: every batch re-delivered with
    batch ids restarting at 0) must add zero rows and zero commits."""
    from rtcdb_spark.sources.delta_log import delta_versions, read_delta
    from rtcdb_spark.streaming import read_events_stream
    from rtcdb_spark.streaming.sinks import stream_to_delta

    table = str(tmp_path / "delta")
    sdf = read_events_stream(
        spark, sf_smoke, max_files_per_trigger=1, path=stream_dir
    ).select("event_id", "ts", "user_id", "event_type", "value")
    stream_to_delta(sdf, table, str(tmp_path / "cp1"), app_id="w1")
    want = spark.read.parquet(stream_dir)
    got = read_delta(spark, table)
    assert got.count() == want.count()
    versions_before = delta_versions(table)
    assert len(versions_before) == 3  # one commit per micro-batch
    # txn marks are in the log with this writer's high-water version
    import json as _json
    import os as _os

    txns = []
    for v in versions_before:
        with open(_os.path.join(table, "_delta_log", f"{v:020d}.json")) as fh:
            txns += [_json.loads(x)["txn"] for x in fh if '"txn"' in x]
    assert [t["appId"] for t in txns] == ["w1"] * 3
    assert sorted(t["version"] for t in txns) == [0, 1, 2]
    # fresh checkpoint: all batches replay; the table must not change
    sdf2 = read_events_stream(
        spark, sf_smoke, max_files_per_trigger=1, path=stream_dir
    ).select("event_id", "ts", "user_id", "event_type", "value")
    stream_to_delta(sdf2, table, str(tmp_path / "cp2"), app_id="w1")
    assert delta_versions(table) == versions_before
    assert read_delta(spark, table).count() == want.count()
    # a DIFFERENT writer id is an independent ledger: its batches commit
    sdf3 = read_events_stream(
        spark, sf_smoke, max_files_per_trigger=1, path=stream_dir
    ).select("event_id", "ts", "user_id", "event_type", "value")
    stream_to_delta(sdf3, table, str(tmp_path / "cp3"), app_id="w2")
    assert read_delta(spark, table).count() == 2 * want.count()


@pytest.mark.parametrize("session_width, want", [(16, 8), (4, 4)])
def test_stream_start_pins_narrowed_width(
    spark, sf_smoke, stream_dir, tmp_path, session_width, want
):
    """A stateful stream keeps the width narrow_shuffle set at start(): the
    checkpoint records it and creates one state partition per shuffle
    partition, while the session is back at its own width on return."""
    import json
    import os

    from rtcdb_spark.streaming.sinks import stream_agg_foreach_batch

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(session_width))
    try:
        ckpt = str(tmp_path / "ckpt")
        sdf = read_events_stream(
            spark, sf_smoke, max_files_per_trigger=1, path=stream_dir
        )
        stream_agg_foreach_batch(sdf, str(tmp_path / "out"), ckpt)
        assert spark.conf.get(key) == str(session_width)
    finally:
        spark.conf.set(key, prev)
    with open(os.path.join(ckpt, "offsets", "0")) as f:
        meta = json.loads(f.read().splitlines()[1])
    assert meta["conf"][key] == str(want)
    state_parts = os.listdir(os.path.join(ckpt, "state", "0"))
    assert sorted(p for p in state_parts if p.isdigit()) == [
        str(i) for i in range(want)
    ]
