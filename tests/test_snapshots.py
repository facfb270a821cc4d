"""SnapshotStore: atomic commits, time travel, compaction, expiry.

The Iceberg-commit-model analog over the manifest store
(zcurve_spark/sources/snapshots.py) — every mutation is a new immutable
snapshot; readers pin ids; expiry is the only deletion path.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from zcurve_spark.functions.columns import zkey2_col
from zcurve_spark.sources.manifest import MANIFEST_NAME, load_manifest
from zcurve_spark.sources.snapshots import SnapshotStore, foreach_batch_committer


def _pts(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("pid"),
            (F.col("id") * 37 % 1024).alias("x"),
            (F.col("id") * 91 % 1024).alias("y"),
        )
        .withColumn("zkey", zkey2_col("x", "y"))
    )


@pytest.fixture()
def store(spark, tmp_path):
    return SnapshotStore(spark, str(tmp_path / "tbl"))


class TestCommits:
    def test_append_chain_and_history(self, spark, store):
        m1 = store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        m2 = store.commit(_pts(spark, 100, 150), created_unix=20, n_partitions=2)
        assert (m1["snapshot_id"], m2["snapshot_id"]) == (1, 2)
        assert m2["parent_id"] == 1
        assert m1["total_rows"] == 100 and m2["total_rows"] == 150
        # append carries parent files forward
        assert m2["summary"]["carried_files"] == len(m1["files"])
        hist = store.snapshots()
        assert [h["snapshot_id"] for h in hist] == [1, 2]
        assert [h["total_rows"] for h in hist] == [100, 150]
        # pointer == current snapshot manifest, readers see v2
        assert load_manifest(store.path)["snapshot_id"] == 2
        assert store.read().count() == 150

    def test_overwrite_drops_parent_files_from_current(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        m2 = store.commit(
            _pts(spark, 500, 520), operation="overwrite", created_unix=20, n_partitions=1
        )
        assert m2["summary"]["carried_files"] == 0
        assert store.read().count() == 20
        # the old snapshot still reads in full (nothing deleted)
        assert store.read(snapshot_id=1).count() == 100

    def test_zkey_col_mismatch_rejected(self, spark, store):
        store.commit(_pts(spark, 0, 10), created_unix=10, n_partitions=1)
        with pytest.raises(ValueError, match="zkey_col"):
            store.commit(
                _pts(spark, 10, 20).withColumnRenamed("zkey", "hkey"),
                zkey_col="hkey",
                created_unix=20,
            )

    def test_commit_files_are_sorted_with_stats(self, spark, store):
        m = store.commit(_pts(spark, 0, 1000), created_unix=10, n_partitions=4)
        files = m["files"]
        assert len(files) == 4
        # range partitioning: per-file zkey ranges are disjoint & ordered
        spans = sorted((f["zkey_min"], f["zkey_max"]) for f in files)
        for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
            assert hi1 <= lo2
        assert all("x" in f["stats"] and "y" in f["stats"] for f in files)


class TestTimeTravel:
    def test_read_by_id_and_timestamp(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=1_000, n_partitions=2)
        store.commit(_pts(spark, 100, 150), created_unix=2_000, n_partitions=2)
        assert store.read(snapshot_id=1).count() == 100
        assert store.read(as_of_unix=1_500).count() == 100
        assert store.read(as_of_unix=2_000).count() == 150
        with pytest.raises(LookupError):
            store.snapshot(as_of_unix=999)
        with pytest.raises(LookupError):
            store.snapshot(77)

    def test_snapshot_rows_exact(self, spark, store):
        store.commit(_pts(spark, 0, 50), created_unix=10, n_partitions=1)
        store.commit(_pts(spark, 50, 80), created_unix=20, n_partitions=1)
        v1 = {r["pid"] for r in store.read(snapshot_id=1).collect()}
        v2 = {r["pid"] for r in store.read(snapshot_id=2).collect()}
        assert v1 == set(range(50))
        assert v2 == set(range(80))

    def test_pruned_read_on_old_snapshot(self, spark, store):
        store.commit(_pts(spark, 0, 1000), created_unix=10, n_partitions=4)
        store.commit(_pts(spark, 1000, 1200), created_unix=20, n_partitions=2)
        m1 = store.snapshot(1)
        lo = m1["files"][0]["zkey_min"]
        hi = m1["files"][0]["zkey_max"]
        got = store.read_pruned([(lo, hi)], snapshot_id=1)
        want = store.read(snapshot_id=1).filter(F.col("zkey").between(lo, hi))
        assert got.filter(F.col("zkey").between(lo, hi)).count() == want.count()


class TestCompaction:
    def test_compact_preserves_rows_and_restores_clustering(self, spark, store):
        store.commit(_pts(spark, 0, 500), created_unix=10, n_partitions=4)
        store.commit(_pts(spark, 500, 1000), created_unix=20, n_partitions=4)
        # two appended mini-layouts: zkey ranges overlap across commits
        m2 = store.snapshot(2)
        assert len(m2["files"]) == 8
        m3 = store.compact(created_unix=30)
        assert m3["operation"] == "replace"
        assert m3["summary"]["carried_files"] == 0
        assert m3["lineage"]["compacted_from"] == 2
        # same row set
        assert {r["pid"] for r in store.read().collect()} == set(range(1000))
        # single sorted run again: disjoint per-file ranges
        spans = sorted((f["zkey_min"], f["zkey_max"]) for f in m3["files"])
        for (l1, h1), (l2, _h2) in zip(spans, spans[1:]):
            assert h1 <= l2
        # parent still time-travels
        assert store.read(snapshot_id=2).count() == 1000
        assert store.read(snapshot_id=1).count() == 500


class TestExpire:
    def _history(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.commit(_pts(spark, 100, 200), created_unix=20, n_partitions=2)
        store.compact(created_unix=30)
        return store

    def test_dry_run_touches_nothing(self, spark, store):
        self._history(spark, store)
        rep = store.expire(keep_last=1, dry_run=True)
        assert rep["removed_snapshots"] == [1, 2]
        assert rep["removed_files"]  # v1+v2 delta files unreferenced by v3
        assert store.read(snapshot_id=1).count() == 100  # still there

    def test_expire_removes_only_unreferenced(self, spark, store):
        self._history(spark, store)
        rep = store.expire(keep_last=1)
        assert rep["kept_snapshots"] == [3]
        # dropped snapshot manifests are gone
        assert store.snapshot_ids() == [3]
        for rel in rep["removed_files"]:
            assert not os.path.exists(os.path.join(store.path, rel))
        # current snapshot reads in full after the delete
        assert store.read().count() == 200

    def test_append_chain_expiry_keeps_shared_files(self, spark, store):
        # v2 carries v1's files: expiring v1 must NOT delete them
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.commit(_pts(spark, 100, 150), created_unix=20, n_partitions=2)
        rep = store.expire(keep_last=1)
        assert rep["removed_snapshots"] == [1]
        assert rep["removed_files"] == []  # all v1 files referenced by v2
        assert store.read().count() == 150

    def test_current_always_kept(self, spark, store):
        self._history(spark, store)
        with pytest.raises(ValueError):
            store.expire(keep_last=0)


class TestIncrementalRead:
    def test_added_rows_between_appends(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.commit(_pts(spark, 100, 150), created_unix=20, n_partitions=2)
        store.commit(_pts(spark, 150, 180), created_unix=30, n_partitions=2)
        inc = store.read_incremental(1)  # v1 -> current (v3)
        assert {r["pid"] for r in inc.collect()} == set(range(100, 180))
        inc12 = store.read_incremental(1, 2)
        assert {r["pid"] for r in inc12.collect()} == set(range(100, 150))

    def test_same_snapshot_is_empty(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        assert store.read_incremental(1, 1).count() == 0

    def test_rewrite_in_range_raises(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.commit(_pts(spark, 100, 150), created_unix=20, n_partitions=2)
        store.compact(created_unix=30)
        with pytest.raises(ValueError, match="non-append"):
            store.read_incremental(1)

    def test_not_ancestor_raises(self, spark, store):
        store.commit(_pts(spark, 0, 10), created_unix=10, n_partitions=1)
        with pytest.raises(LookupError, match="ancestor"):
            store.read_incremental(7)


class TestChanges:
    """read_changes: the CDC / changelog scan — exact multiset diff
    reading only files added/removed between the two manifests."""

    def test_append_changes_equal_incremental_all_inserts(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.commit(_pts(spark, 100, 150), created_unix=20, n_partitions=2)
        store.commit(_pts(spark, 150, 180), created_unix=30, n_partitions=2)
        ch = store.read_changes(1).collect()
        assert all(r["_change_type"] == "insert" for r in ch)
        assert all(r["_change_count"] == 1 for r in ch)
        inc = store.read_incremental(1)
        assert {r["pid"] for r in ch} == {r["pid"] for r in inc.collect()}

    def test_compaction_nets_to_zero_changes(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.commit(_pts(spark, 100, 150), created_unix=20, n_partitions=2)
        store.compact(created_unix=30)
        # every pre-compaction row reappears in the rewritten files: the
        # +1/-1 weights cancel and the changelog is empty
        assert store.read_changes(2, 3).count() == 0
        # ...and changes across append+compact still show only the append
        ch = store.read_changes(1, 3)
        assert {r["pid"] for r in ch.collect()} == set(range(100, 150))

    def test_merge_changes_are_delete_insert_pairs(self, spark, store):
        df = _pts(spark, 0, 1000).drop("zkey")
        store.commit(df, zkey_col="pid", created_unix=10, n_partitions=4)
        delta = spark.createDataFrame(
            [(5, 9999, 9999), (1500, 1, 2)], "pid long, x long, y long"
        )
        store.merge(delta, created_unix=20)
        rows = store.read_changes(1, 2).collect()
        got = {(r["pid"], r["x"], r["y"], r["_change_type"]) for r in rows}
        assert got == {
            (5, 5 * 37 % 1024, 5 * 91 % 1024, "delete"),
            (5, 9999, 9999, "insert"),
            (1500, 1, 2, "insert"),
        }
        # survivor rows co-located in the rewritten file cancelled out
        assert all(r["_change_count"] == 1 for r in rows)

    def test_multiplicity_counts(self, spark, store):
        df = _pts(spark, 0, 50).drop("zkey")
        dup = df.filter(F.col("pid") == 9)
        store.commit(
            df.unionByName(dup).unionByName(dup),
            zkey_col="pid", created_unix=10, n_partitions=2,
        )
        delta = spark.createDataFrame([(9, 1, 1)], "pid long, x long, y long")
        store.merge(delta, created_unix=20)
        ch = {
            (r["pid"], r["_change_type"]): r["_change_count"]
            for r in store.read_changes(1, 2).collect()
        }
        assert ch[(9, "delete")] == 3  # all three identical copies removed
        assert ch[(9, "insert")] == 1

    def test_same_snapshot_is_empty_and_schema_stable(self, spark, store):
        store.commit(_pts(spark, 0, 10), created_unix=10, n_partitions=1)
        ch = store.read_changes(1, 1)
        assert ch.count() == 0
        assert ch.columns[-2:] == ["_change_type", "_change_count"]

    def test_not_ancestor_raises(self, spark, store):
        store.commit(_pts(spark, 0, 10), created_unix=10, n_partitions=1)
        with pytest.raises(LookupError, match="ancestor"):
            store.read_changes(7)

    def test_changed_files_only_are_read(self, spark, store):
        """IO contract: the diff plan's scan covers only added+removed
        files, never the carried ones."""
        df = _pts(spark, 0, 1000).drop("zkey")
        store.commit(df, zkey_col="pid", created_unix=10, n_partitions=4)
        delta = spark.createDataFrame([(3, 0, 0)], "pid long, x long, y long")
        m = store.merge(delta, created_unix=20)
        assert m["summary"]["rewritten_files"] == 1
        scanned = {
            "data/" + p.split("/data/", 1)[1]
            for p in store.read_changes(1, 2).inputFiles()
        }
        carried = {
            f["file"] for f in store.snapshot(2)["files"]
        } & {f["file"] for f in store.snapshot(1)["files"]}
        assert carried and not (scanned & carried), (
            f"carried files scanned: {scanned & carried}"
        )


class TestMerge:
    def _keyed_store(self, spark, store, n=1000, files=4):
        """pid-sorted layout (zkey_col='pid'): the primary-key-sorted
        table shape where CoW merge pruning is tight."""
        df = _pts(spark, 0, n).drop("zkey")
        store.commit(df, zkey_col="pid", created_unix=10, n_partitions=files)
        return store

    def test_upsert_semantics(self, spark, store):
        self._keyed_store(spark, store)
        delta = spark.createDataFrame(
            [(5, 9999, 9999), (1500, 1, 2)], "pid long, x long, y long"
        )
        m = store.merge(delta, created_unix=20)
        got = {r["pid"]: (r["x"], r["y"]) for r in store.read().collect()}
        assert got[5] == (9999, 9999)  # updated
        assert got[1500] == (1, 2)  # inserted
        assert len(got) == 1001
        assert m["operation"] == "overwrite"
        # the parent still reads pre-merge rows (time travel across merge)
        old = {r["pid"]: (r["x"], r["y"]) for r in store.read(1).collect()}
        assert old[5] == (5 * 37 % 1024, 5 * 91 % 1024) and 1500 not in old

    def test_prunes_untouched_files(self, spark, store):
        self._keyed_store(spark, store, n=1000, files=4)
        # delta keys land in ONE file's pid range
        delta = spark.createDataFrame([(3, 0, 0), (7, 1, 1)], "pid long, x long, y long")
        m = store.merge(delta, created_unix=20)
        assert m["summary"]["rewritten_files"] == 1
        assert m["summary"]["untouched_files"] == 3
        assert store.read().count() == 1000

    def test_insert_beyond_all_ranges_rewrites_nothing(self, spark, store):
        self._keyed_store(spark, store, n=100, files=2)
        delta = spark.createDataFrame([(10_000, 3, 4)], "pid long, x long, y long")
        m = store.merge(delta, created_unix=20)
        assert m["summary"]["rewritten_files"] == 0
        assert m["summary"]["untouched_files"] == 2
        assert store.read().count() == 101

    def test_non_sort_key_merges_correctly_rewriting_all(self, spark, store):
        # zkey-sorted store, merge keyed on pid: no pid stats -> every
        # file is a rewrite candidate, semantics still exact
        store.commit(_pts(spark, 0, 200), created_unix=10, n_partitions=3)
        delta = _pts(spark, 5, 6).withColumn("x", F.lit(777)).withColumn(
            "zkey", zkey2_col("x", "y")
        )
        m = store.merge(delta, key_col="pid", created_unix=20)
        assert m["summary"]["rewritten_files"] == 3
        got = {r["pid"]: r["x"] for r in store.read().collect()}
        assert got[5] == 777 and len(got) == 200

    def test_duplicate_target_keys_all_replaced(self, spark, store):
        # non-unique keys: upsert deletes ALL rows with the key, inserts
        # the delta row(s) — row count can shrink
        df = _pts(spark, 0, 50).drop("zkey")
        dup = df.filter(F.col("pid") == 9)
        store.commit(df.unionByName(dup), zkey_col="pid", created_unix=10, n_partitions=2)
        assert store.read().filter(F.col("pid") == 9).count() == 2
        delta = spark.createDataFrame([(9, 1, 1)], "pid long, x long, y long")
        store.merge(delta, created_unix=20)
        assert store.read().filter(F.col("pid") == 9).count() == 1
        assert store.read().count() == 50


class TestStreamingIngest:
    def test_exactly_once_commits_and_resume(self, spark, store, tmp_path):
        import time

        src = str(tmp_path / "src")
        ck = str(tmp_path / "ck")
        _pts(spark, 0, 40).coalesce(1).write.mode("overwrite").parquet(src)
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order
        _pts(spark, 40, 70).coalesce(1).write.mode("append").parquet(src)
        schema = "pid long, x long, y long, zkey long"

        def run():
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(
                    foreach_batch_committer(store, n_partitions=1)
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        run()
        assert store.read().count() == 70
        ids_after_first = store.snapshot_ids()
        assert len(ids_after_first) == 2  # one commit per micro-batch
        assert store.current()["lineage"]["last_batch_id"] == 1
        # every micro-batch is incrementally readable
        inc = store.read_incremental(ids_after_first[0])
        assert {r["pid"] for r in inc.collect()} == set(range(40, 70))
        # resume: a third file arrives, same checkpoint -> ONE new commit
        _pts(spark, 70, 90).coalesce(1).write.mode("append").parquet(src)
        run()
        assert store.read().count() == 90
        assert store.current()["lineage"]["last_batch_id"] == 2

    def test_replayed_batch_is_skipped(self, spark, store):
        fn = foreach_batch_committer(store, n_partitions=1)
        fn(_pts(spark, 0, 10), 0)
        fn(_pts(spark, 10, 30), 1)
        n_snaps = len(store.snapshot_ids())
        fn(_pts(spark, 10, 30), 1)  # replay after simulated failure
        fn(_pts(spark, 0, 10), 0)  # stale replay
        assert len(store.snapshot_ids()) == n_snaps
        assert store.read().count() == 30


class TestCrashContract:
    def test_torn_pointer_write_leaves_previous_snapshot(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=1)
        # simulate a crash mid-commit: temp pointer file exists, pointer
        # itself untouched — readers still see v1, and a later commit
        # proceeds normally
        tmp = os.path.join(store.path, MANIFEST_NAME + ".tmp")
        with open(tmp, "w") as fh:
            fh.write('{"torn": true')
        assert load_manifest(store.path)["snapshot_id"] == 1
        m2 = store.commit(_pts(spark, 100, 120), created_unix=20, n_partitions=1)
        assert m2["snapshot_id"] == 2
        assert store.read().count() == 120

    def test_orphaned_snapshot_manifest_is_inert(self, spark, store):
        # crash AFTER writing manifest.v2.json but BEFORE the pointer
        # swing: current stays v1; the orphan is visible in history but
        # never read unless pinned explicitly
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=1)
        orphan = dict(store.snapshot(1), snapshot_id=2, parent_id=1)
        with open(store._snap_manifest_path(2), "w") as fh:
            json.dump(orphan, fh)
        assert load_manifest(store.path)["snapshot_id"] == 1
        assert store.read().count() == 100


class TestOrphanGC:
    def _plant_orphan(self, store, sub="s99", name="part-crashed.parquet"):
        # simulate a commit that crashed before publishing its manifest:
        # a data dir exists that no snapshot references
        src_rel = store.snapshot()["files"][0]["file"]
        d = os.path.join(store.path, "data", sub)
        os.makedirs(d, exist_ok=True)
        import shutil

        shutil.copy(os.path.join(store.path, src_rel), os.path.join(d, name))
        return f"data/{sub}/{name}"

    def test_removes_unreferenced_keeps_referenced(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=1)
        store.commit(_pts(spark, 100, 200), created_unix=20, n_partitions=1)
        orphan = self._plant_orphan(store)
        rep = store.remove_orphans()
        assert rep["removed_files"] == [orphan]
        assert not os.path.exists(os.path.join(store.path, "data", "s99"))
        # every retained snapshot still fully readable
        assert store.read(1).count() == 100
        assert store.read(2).count() == 200

    def test_grace_keeps_inflight_commit_files(self, spark, store):
        store.commit(_pts(spark, 0, 50), created_unix=10, n_partitions=1)
        orphan = self._plant_orphan(store)
        p = os.path.join(store.path, orphan)
        os.utime(p, (1_000, 1_000))  # old file: removable
        recent = self._plant_orphan(store, name="part-inflight.parquet")
        rep = store.remove_orphans(grace_unix=2_000)
        assert rep["removed_files"] == [orphan]
        assert rep["kept_recent"] == [recent]
        assert os.path.exists(os.path.join(store.path, recent))

    def test_dry_run_touches_nothing(self, spark, store):
        store.commit(_pts(spark, 0, 50), created_unix=10, n_partitions=1)
        orphan = self._plant_orphan(store)
        rep = store.remove_orphans(dry_run=True)
        assert rep["removed_files"] == [orphan]
        assert os.path.exists(os.path.join(store.path, orphan))

    def test_after_expire_prunes_emptied_dirs(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=1)
        store.commit(_pts(spark, 100, 200), created_unix=20, n_partitions=1)
        store.compact(created_unix=30)
        store.expire(keep_last=1)  # drops v1/v2; their parquet removed,
        # but _SUCCESS markers and emptied per-commit dirs linger
        assert store.remove_orphans()["removed_files"] == []
        for sub in ("s1", "s2"):
            assert not os.path.exists(os.path.join(store.path, "data", sub))
        assert os.path.exists(os.path.join(store.path, "data", "s3"))
        assert store.read().count() == 200


class TestRollbackAndTags:
    def test_rollback_restores_rows_metadata_only(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.commit(_pts(spark, 100, 150), created_unix=20, n_partitions=2)
        m = store.rollback(1, created_unix=30)
        assert m["snapshot_id"] == 3 and m["operation"] == "rollback"
        assert m["summary"]["rolled_back_to"] == 1
        # current read == v1 rows; no new data dir was written
        assert {r["pid"] for r in store.read().collect()} == set(range(100))
        assert not os.path.exists(os.path.join(store.path, "data/s3"))
        # history preserved: v2 still readable
        assert store.read(2).count() == 150

    def test_rollback_shows_as_deletes_in_changelog(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.commit(_pts(spark, 100, 150), created_unix=20, n_partitions=2)
        store.rollback(1, created_unix=30)
        ch = store.read_changes(2, 3).collect()
        assert all(r["_change_type"] == "delete" for r in ch)
        assert {r["pid"] for r in ch} == set(range(100, 150))

    def test_tag_read_and_expire_pin(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.set_tag("train-run-7", 1)
        store.commit(_pts(spark, 100, 150), operation="overwrite",
                     created_unix=20, n_partitions=2)
        store.commit(_pts(spark, 150, 180), operation="overwrite",
                     created_unix=30, n_partitions=2)
        assert store.tags() == {"train-run-7": 1}
        assert store.read(tag="train-run-7").count() == 100
        # expire keep_last=1 would drop v1 — the tag pins it
        rep = store.expire(keep_last=1)
        assert 1 in rep["kept_snapshots"] and 2 in rep["removed_snapshots"]
        assert store.read(tag="train-run-7").count() == 100
        # untag, then expiry reclaims it
        store.delete_tag("train-run-7")
        rep = store.expire(keep_last=1)
        assert rep["removed_snapshots"] == [1]
        with pytest.raises(LookupError):
            store.snapshot(1)

    def test_rollback_by_tag(self, spark, store):
        store.commit(_pts(spark, 0, 100), created_unix=10, n_partitions=2)
        store.set_tag("good")
        store.commit(_pts(spark, 100, 120), operation="overwrite",
                     created_unix=20, n_partitions=2)
        store.rollback(tag="good", created_unix=30)
        assert store.read().count() == 100

    def test_tag_errors(self, spark, store):
        store.commit(_pts(spark, 0, 10), created_unix=10, n_partitions=1)
        with pytest.raises(LookupError, match="no tag"):
            store.read(tag="nope")
        with pytest.raises(LookupError, match="no tag"):
            store.delete_tag("nope")
        with pytest.raises(ValueError, match="at most one"):
            store.snapshot(1, tag="x")
