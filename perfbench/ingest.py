"""The ``table_ingest`` workload: the write path and what reads it back.

Every batch, update set and key range comes from the seed. Rows have an
ascending ``long`` key, a low-cardinality ``string`` category, a ``long``
amount and a variable-length ``string`` body: only the two types the
reference format holds, and no floating point, so read-backs compare
exactly. Tables start empty in every run.

One cycle is one pass. It writes one new batch through every write path,
then reads seeded key ranges back from each table and compares the rows
with an in-memory model of everything written so far; the time-travel
read is compared with the model as it stood at that version.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.harness import Recorder
from perfbench.workload import Op, Pass, first_line

ROWS_PER_BATCH = 4096
WRITE_DATA_ROWS = 1024  # one block of the reference format
UPDATE_FRAC = 0.05
RECENT_ROWS = 2 * ROWS_PER_BATCH
INSERT_FRAC = 0.05
DELETE_FRAC = 0.02
# Reads per cycle (times warm, on 4 cores): the three Delta and versioned
# reads (about 0.13 s each) read READ_RANGES key ranges; indexed_scan and
# read_rtcdb (0.6-0.9 s each) read the first COSTLY_READ_RANGES of them,
# which keeps a cycle short.
# That makes 28 read samples: the median and the tail sample (10 beyond
# it, at p64) both fall inside the cluster of fast reads, not on the
# edge between the two clusters, where one slow call moves them.
READ_RANGES = 8
COSTLY_READ_RANGES = 2
CATEGORIES = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")
WORDS = ("lorem", "ipsum", "dolor", "sit", "amet", "tokens", "corpus", "shard", "dedup", "ü")
COLUMNS = ("key", "cat", "amount", "body")
ARROW_SCHEMA = pa.schema(
    [("key", pa.int64()), ("cat", pa.string()), ("amount", pa.int64()), ("body", pa.string())]
)

Row = tuple[int, str, int, str]


def user_bytes(rows: list[Row]) -> int:
    """Uncompressed user bytes: 8 per long, UTF-8 length per string."""
    return sum(16 + len(r[1].encode()) + len(r[3].encode()) for r in rows)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _tuples(rows) -> list[Row]:
    return [tuple(r[c] for c in COLUMNS) for r in rows]


class TableIngest:
    def __init__(self, spark, rec: Recorder, work_dir: str, seed: int) -> None:
        from pyspark.sql import types as T

        from rtcdb_spark.db import Database, TableMeta
        from rtcdb_spark.sources import delta_log
        from rtcdb_spark.sources.versioned import VersionedTable

        self.spark, self.rec = spark, rec
        self.rng = random.Random(seed)
        self.tables_dir = os.path.join(work_dir, "tables")
        self.stage_dir = os.path.join(work_dir, "stage")
        self.watch_dir = os.path.join(work_dir, "watch")
        for d in (self.tables_dir, self.stage_dir, self.watch_dir):
            os.makedirs(d)
        t = self.tables_dir
        self.dirs = {
            "db": os.path.join(t, "db"),
            "rtcdb": os.path.join(t, "rtcdb"),
            "delta": os.path.join(t, "delta"),
            "versioned": os.path.join(t, "versioned"),
            "stream": os.path.join(t, "stream_delta"),
        }
        self.stream_ckpt = os.path.join(work_dir, "stream_checkpoint")
        self.spark_schema = T.StructType(
            [
                T.StructField("key", T.LongType()),
                T.StructField("cat", T.StringType()),
                T.StructField("amount", T.LongType()),
                T.StructField("body", T.StringType()),
            ]
        )
        columns = [("key", "int64"), ("cat", "string"), ("amount", "int64"), ("body", "string")]
        self.db = Database.init(spark, self.dirs["db"], [TableMeta("events", columns)])
        self.versioned = VersionedTable(spark, self.dirs["versioned"])
        # an empty Delta table, so every Delta write in a cycle is an append
        delta_log.write_delta(spark.createDataFrame([], self.spark_schema), self.dirs["delta"])

        self.next_key = self.rng.randrange(1, 1_000_000)
        self.n_files = 0
        # the model: key -> row, per table
        self.db_rows: dict[int, Row] = {}
        self.rtcdb_rows: dict[int, Row] = {}
        self.delta_rows: dict[int, Row] = {}
        self.versioned_rows: dict[int, Row] = {}
        self.stream_rows: dict[int, Row] = {}
        # the time-travel read goes back to where the previous cycle left
        # the Delta table: (version, the model then)
        self.delta_before: tuple[int, dict[int, Row]] = (0, {})

    # -- seeded inputs -----------------------------------------------------

    def _row(self, key: int) -> Row:
        body = " ".join(self.rng.choice(WORDS) for _ in range(self.rng.randrange(2, 40)))
        return (key, self.rng.choice(CATEGORIES), self.rng.randrange(0, 10**9), body)

    def _new_rows(self, n: int) -> list[Row]:
        rows = [self._row(k) for k in range(self.next_key, self.next_key + n)]
        self.next_key += n
        return rows

    def _stage(self, rows: list[Row]) -> str:
        """Write ``rows`` to a parquet file the benchmark owns (untimed)."""
        self.n_files += 1
        path = os.path.join(self.stage_dir, f"batch-{self.n_files:05d}.parquet")
        cols = [list(c) for c in zip(*rows)]
        pq.write_table(pa.table(cols, schema=ARROW_SCHEMA), path)
        return path

    # -- timed calls -------------------------------------------------------

    def _call(self, out: Pass, kind: str, name: str, fn, rows=None, table=None):
        """Time one call into the program as one operation. When tracing,
        record the bytes it added under its table and the commits and
        micro-batches it made."""
        traced = self.rec.tracing
        if traced and table:
            before = (dir_bytes(self.dirs[table]), self._commits(table))
        result, error = None, None
        with self.rec.span(name) as sp:
            try:
                result = fn()
            except Exception as exc:  # one failed call must not end the run
                error = first_line(exc)
        if traced and table:
            sp.attrs["bytes_written"] = dir_bytes(self.dirs[table]) - before[0]
            sp.attrs["commits"] = self._commits(table) - before[1]
        n = len(rows) if rows and error is None else 0
        b = user_bytes(rows) if n else 0
        sp.attrs["user_bytes"] = b
        out.ops.append(Op(name, kind, sp.seconds, error is None, error, rows=n, user_bytes=b))
        return result, error, sp

    def _commits(self, table: str) -> int:
        """Commits made so far: Delta log versions, or the stream's
        completed micro-batches."""
        from rtcdb_spark.sources.delta_log import delta_versions

        if table == "delta":
            return len(delta_versions(self.dirs["delta"]))
        if table == "stream":
            commits = os.path.join(self.stream_ckpt, "commits")
            if not os.path.isdir(commits):
                return 0
            return sum(1 for f in os.listdir(commits) if f.isdigit())  # not the .crc files
        return 0

    def _read(self, out: Pass, name: str, fn, expected: dict[int, Row], lo=None, hi=None):
        """Time a read that returns collected rows; compare them with the
        model's rows with keys in ``[lo, hi]`` (all rows when unbounded)."""
        rows, error, sp = self._call(out, "read", name, fn)
        if error is None:
            want = sorted(r for k, r in expected.items() if lo is None or lo <= k <= hi)
            got = sorted(rows)
            if got != want:
                out.ops[-1].ok = False
                out.ops[-1].error = f"{len(got)} rows read, {len(want)} in the model; they differ"
        return sp

    # -- one cycle ---------------------------------------------------------

    def run_pass(self) -> Pass:
        from rtcdb_spark.sources import delta_log as dl
        from rtcdb_spark.sources.rtcdb_native import write_rtcdb
        from rtcdb_spark.streaming.sinks import stream_to_delta

        spark, out, dirs = self.spark, Pass(0.0), self.dirs

        block = self._new_rows(WRITE_DATA_ROWS)
        batch = self._new_rows(ROWS_PER_BATCH)
        batch_path = self._stage(batch)
        df = spark.read.parquet(batch_path)

        def apply(model: dict[int, Row], rows: list[Row], err) -> None:
            if err is None:
                model.update((r[0], r) for r in rows)

        # -- writes
        _, err, _ = self._call(
            out, "write", "db.write_data",
            lambda: self.db.write_data("events", [list(r) for r in block]), block, "db",
        )
        apply(self.db_rows, block, err)
        _, err, _ = self._call(
            out, "write", "db.append", lambda: self.db.append("events", df), batch, "db"
        )
        apply(self.db_rows, batch, err)
        _, err, _ = self._call(
            out, "write", "sources.rtcdb_native.write_rtcdb",
            lambda: write_rtcdb(df, dirs["rtcdb"], "events"), batch, "rtcdb",
        )
        apply(self.rtcdb_rows, batch, err)
        _, err, _ = self._call(
            out, "write", "sources.delta_log.append_delta",
            lambda: dl.append_delta(df, dirs["delta"]), batch, "delta",
        )
        apply(self.delta_rows, batch, err)

        # corrections land on recent rows: the keys of the last few batches
        recent = sorted(self.delta_rows)[-RECENT_ROWS:]
        updated = self.rng.sample(recent, int(len(recent) * UPDATE_FRAC))
        changes = [self._row(k) for k in updated]
        changes += self._new_rows(int(ROWS_PER_BATCH * INSERT_FRAC))
        src = spark.read.parquet(self._stage(changes))
        _, err, _ = self._call(
            out, "write", "sources.delta_log.merge_delta",
            lambda: dl.merge_delta(spark, dirs["delta"], src, on=["key"]), changes, "delta",
        )
        apply(self.delta_rows, changes, err)

        keys = sorted(self.delta_rows)
        width = max(1, int(len(keys) * DELETE_FRAC))
        i = self.rng.randrange(0, len(keys) - width + 1)
        where = f"key BETWEEN {keys[i]} AND {keys[i + width - 1]}"
        _, err, _ = self._call(
            out, "write", "sources.delta_log.delete_delta",
            lambda: dl.delete_delta(spark, dirs["delta"], where), table="delta",
        )
        if err is None:
            for k in keys[i : i + width]:
                del self.delta_rows[k]

        _, err, _ = self._call(
            out, "write", "sources.versioned.commit",
            lambda: self.versioned.commit(df), batch, "versioned",
        )
        apply(self.versioned_rows, batch, err)

        # a producer drops the batch file into the watched directory
        shutil.copy(batch_path, os.path.join(self.watch_dir, os.path.basename(batch_path)))
        events = spark.readStream.schema(self.spark_schema).parquet(self.watch_dir)
        _, err, _ = self._call(
            out, "write", "streaming.sinks.stream_to_delta",
            lambda: stream_to_delta(events, dirs["stream"], self.stream_ckpt, app_id="perfbench"),
            batch, "stream",
        )
        apply(self.stream_rows, batch, err)

        # compaction every cycle keeps every pass the same mix of calls
        self._call(
            out, "write", "sources.delta_log.optimize_delta",
            lambda: dl.optimize_delta(spark, dirs["delta"]), table="delta",
        )

        # the manifest index over what the db table holds now
        self._call(
            out, "write", "db.build_index",
            lambda: self.db.build_index("events", ["key"]), table="db",
        )

        travel_to, then = self.delta_before
        self.delta_before = (dl.delta_versions(dirs["delta"])[-1], dict(self.delta_rows))

        # -- reads of what the cycle wrote, over READ_RANGES seeded key ranges
        keys = sorted(self.delta_rows)
        for i in range(READ_RANGES):
            lo = keys[self.rng.randrange(0, max(1, len(keys) - ROWS_PER_BATCH))]
            self._reads(out, lo, lo + ROWS_PER_BATCH - 1, travel_to, then, i < COSTLY_READ_RANGES)

        out.seconds = sum(op.seconds for op in out.ops)
        return out

    def _reads(
        self, out: Pass, lo: int, hi: int, travel_to: int, then: dict[int, Row], costly: bool
    ) -> None:
        """Read ``[lo, hi]`` back through each read path; through
        indexed_scan and read_rtcdb only when ``costly``."""
        from rtcdb_spark.sources import delta_log as dl
        from rtcdb_spark.sources.rtcdb_native import load_metadata, plan_blocks, read_rtcdb

        spark, dirs = self.spark, self.dirs
        if costly:
            self._read(
                out, "db.indexed_scan",
                lambda: _tuples(self.db.indexed_scan("events", {"key": (lo, hi)}).collect()),
                self.db_rows, lo, hi,
            )
            sp = self._read(
                out, "sources.rtcdb_native.read_rtcdb",
                lambda: _tuples(
                    read_rtcdb(spark, dirs["rtcdb"], "events")
                    .filter(f"key BETWEEN {lo} AND {hi}")
                    .collect()
                ),
                self.rtcdb_rows, lo, hi,
            )
            if self.rec.tracing:
                meta = load_metadata(dirs["rtcdb"])
                kept, total = plan_blocks(dirs["rtcdb"], "events", meta, ("key", lo, hi))
                sp.attrs.update(blocks_kept=len(kept), blocks_total=total)
        sp = self._read(
            out, "sources.delta_log.read_delta_pruned",
            lambda: _tuples(dl.read_delta_pruned(spark, dirs["delta"], "key", lo, hi).collect()),
            self.delta_rows, lo, hi,
        )
        if self.rec.tracing:
            kept, total = dl.delta_plan_files(dirs["delta"], "key", lo, hi)
            sp.attrs.update(files_kept=len(kept), files_total=total)
        self._read(
            out, "sources.versioned.read_where",
            lambda: _tuples(self.versioned.read_where(f"key >= {lo} AND key <= {hi}").collect()),
            self.versioned_rows, lo, hi,
        )
        self._read(
            out, "sources.delta_log.read_delta",
            lambda: _tuples(dl.read_delta(spark, dirs["delta"], version=travel_to).collect()),
            then,
        )

    def finish(self) -> list[Op]:
        """Check the streamed table once, after the last cycle (untimed)."""
        from rtcdb_spark.sources.delta_log import read_delta

        out = Pass(0.0)
        self._read(
            out, "streaming.sinks.stream_to_delta:check",
            lambda: _tuples(read_delta(self.spark, self.dirs["stream"]).collect()),
            self.stream_rows,
        )
        out.ops[0].kind = "check"
        return out.ops

    def known_defects(self) -> list[Op]:
        return []

    def stored_bytes(self) -> int:
        return dir_bytes(self.tables_dir)
