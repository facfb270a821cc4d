"""Snapshot commits, time travel, compaction, and expiry for the
manifest store — the Iceberg *commit model* analog.

The r1-r4 layer (:mod:`.manifest`) is Iceberg's *read side*: a manifest
of per-file zkey/coordinate stats that pruned readers (by key range)
and StageRunner resume consult.  This module adds the *write side* a 10^12-row table
needs: every mutation is an atomic COMMIT producing a new immutable
snapshot, old snapshots stay readable (time travel), small delta files
get compacted back into the zkey-sorted layout, and unreferenced files
are reclaimed by an explicit expiry pass — nothing is ever deleted as a
side effect of a write.

Layout (all under one table path)::

    table/
      _zcurve_manifest.json          <- pointer: FULL manifest of the
                                        current snapshot (same schema the
                                        r1-r4 readers consume, unchanged)
      _snapshots/manifest.v{N}.json  <- immutable per-snapshot manifests
      data/s{N}/part-*.parquet       <- files added by snapshot N

Commit protocol: write data files -> write the immutable snapshot
manifest (temp + ``os.replace``) -> swing the pointer (temp +
``os.replace``).  A crash between any two steps leaves the previous
snapshot fully intact and at worst orphans files that the next
:meth:`SnapshotStore.expire` reclaims — the same failure contract as an
Iceberg commit.  Concurrency: single writer per table (Iceberg
serializes committers through a catalog CAS; this sandbox has no
catalog, so the contract is documented rather than enforced — readers
are always safe because they only ever see a complete pointer).

Scale notes (100 TB): every operation here is metadata-only on the
driver except the data writes themselves, which are ordinary
distributed ``write.parquet`` jobs.  ``commit`` lists and footer-scans
only the files IT wrote (O(files-added), not O(table)); ``read`` /
``read_pruned`` hand Spark an explicit file list from the manifest, so
scan planning never lists the directory; ``compact`` is one
repartitionByRange job over the files it replaces; ``expire`` deletes
O(dropped-files).  Per-snapshot manifests carry lineage + per-file
metrics, so any downstream stage can resume against a PINNED snapshot
id instead of "whatever the table looks like now" — reproducible
backfills, the property the north rule's per-partition lineage asks
for.

Reference parity: the reference's B-tree is mutated in place page by
page (WAL-protected, sp_tree.c); the Spark-native translation of
"index maintenance" is append -> compact -> expire over immutable
parquet, which is exactly the Iceberg model this mirrors.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .manifest import (
    MANIFEST_NAME,
    _footer_stats,
    _footer_stats_many,
    _write_manifest,
    load_manifest,
)

SNAP_DIR = "_snapshots"


def _atomic_json(path: str, obj: dict) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, indent=1)
    os.replace(tmp, path)


class SnapshotStore:
    """Versioned manifest store: atomic commits, time travel, compaction,
    snapshot expiry.  See module docstring for the layout and the crash /
    concurrency contract."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(os.path.join(path, SNAP_DIR), exist_ok=True)

    # -- snapshot metadata ------------------------------------------------
    def _snap_manifest_path(self, sid: int) -> str:
        return os.path.join(self.path, SNAP_DIR, f"manifest.v{sid}.json")

    def current(self) -> dict | None:
        return load_manifest(self.path)

    def snapshot_ids(self) -> list[int]:
        out = []
        for name in os.listdir(os.path.join(self.path, SNAP_DIR)):
            if name.startswith("manifest.v") and name.endswith(".json"):
                out.append(int(name[len("manifest.v"):-len(".json")]))
        return sorted(out)

    def snapshots(self) -> list[dict]:
        """History table (one row per snapshot, newest last) — the
        Iceberg ``table.snapshots`` metadata-table analog."""
        rows = []
        for sid in self.snapshot_ids():
            m = self.snapshot(sid)
            rows.append(
                {
                    "snapshot_id": sid,
                    "parent_id": m.get("parent_id"),
                    "operation": m.get("operation"),
                    "created_unix": m.get("created_unix"),
                    "total_rows": m.get("total_rows"),
                    "n_files": len(m.get("files", [])),
                    "summary": m.get("summary", {}),
                }
            )
        return rows

    # -- named refs (tags) --------------------------------------------------
    def _refs_path(self) -> str:
        return os.path.join(self.path, SNAP_DIR, "refs.json")

    def tags(self) -> dict[str, int]:
        """name -> snapshot_id for every tag (Iceberg ref analog).
        Tagged snapshots are pinned: :meth:`expire` never drops them, so
        a tag is a durable reproducibility anchor ('the snapshot run X
        trained on') independent of the keep_last window."""
        p = self._refs_path()
        if not os.path.exists(p):
            return {}
        with open(p) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}

    def set_tag(self, name: str, snapshot_id: int | None = None) -> dict[str, int]:
        """Tag a snapshot (current by default).  Atomic via the same
        temp + os.replace protocol as every other metadata write."""
        sid = self.snapshot(snapshot_id)["snapshot_id"]
        refs = self.tags()
        refs[name] = sid
        _atomic_json(self._refs_path(), refs)
        return refs

    def delete_tag(self, name: str) -> dict[str, int]:
        refs = self.tags()
        if name not in refs:
            raise LookupError(f"no tag {name!r} at {self.path}")
        del refs[name]
        _atomic_json(self._refs_path(), refs)
        return refs

    def snapshot(
        self,
        snapshot_id: int | None = None,
        *,
        as_of_unix: int | None = None,
        tag: str | None = None,
    ) -> dict:
        """Full manifest of a snapshot: by id, by timestamp (latest
        snapshot with ``created_unix <= as_of_unix``), by tag name, or
        current."""
        if sum(a is not None for a in (snapshot_id, as_of_unix, tag)) > 1:
            raise ValueError("pass at most one of snapshot_id / as_of_unix / tag")
        if tag is not None:
            refs = self.tags()
            if tag not in refs:
                raise LookupError(f"no tag {tag!r} at {self.path}")
            snapshot_id = refs[tag]
        if snapshot_id is None and as_of_unix is None:
            m = self.current()
            if m is None:
                raise FileNotFoundError(f"no manifest at {self.path}")
            return m
        if as_of_unix is not None:
            best = None
            for sid in self.snapshot_ids():
                m = self.snapshot(sid)
                if m["created_unix"] <= as_of_unix:
                    best = m
            if best is None:
                raise LookupError(f"no snapshot at or before t={as_of_unix}")
            return best
        p = self._snap_manifest_path(snapshot_id)
        if not os.path.exists(p):
            raise LookupError(f"no snapshot v{snapshot_id} at {self.path}")
        with open(p) as fh:
            return json.load(fh)

    # -- commits ----------------------------------------------------------
    def commit(
        self,
        df: DataFrame,
        *,
        operation: str = "append",
        zkey_col: str = "zkey",
        n_partitions: int = 32,
        stat_cols: tuple = ("x", "y"),
        lineage: dict | None = None,
        created_unix: int | None = None,
        carry_files: list | None = None,
        extra_summary: dict | None = None,
    ) -> dict:
        """Atomically commit `df` as a new snapshot.

        ``operation='append'`` carries the parent's files forward and
        adds the new ones; ``'overwrite'`` / ``'replace'`` reference only
        the new files (the parent snapshot remains readable until
        expired).  ``carry_files`` (used by :meth:`merge`) carries an
        explicit subset of the parent's file entries alongside the new
        files — the copy-on-write form where untouched files survive a
        keyed rewrite.  Data is zkey-range-partitioned and sorted within
        partitions — each commit's delta is itself a sorted mini-layout
        with full footer stats, so pruned readers work on appended
        tables too (append-heavy tables re-tighten global clustering via
        :meth:`compact`).

        ``created_unix`` defaults to wall clock; tests pass explicit
        stamps so time-travel-by-timestamp is deterministic.
        """
        if operation not in ("append", "overwrite", "replace"):
            raise ValueError(f"unknown operation {operation!r}")
        cur = self.current()
        parent_id = cur.get("snapshot_id") if cur else None
        if cur is not None and parent_id is None:
            # adopt a plain write_sorted (v1) store: its manifest becomes
            # snapshot 1 with files at the table root
            parent_id = 1
            cur = {**cur, "snapshot_id": 1, "parent_id": None, "operation": "append"}
            _atomic_json(self._snap_manifest_path(1), cur)
            _write_manifest(self.path, cur)
        sid = (parent_id or 0) + 1
        if cur is not None and zkey_col != cur["zkey_col"]:
            raise ValueError(f"zkey_col {zkey_col!r} != table's {cur['zkey_col']!r}")
        data_rel = f"data/s{sid}"
        out_dir = os.path.join(self.path, data_rel)
        (
            df.repartitionByRange(n_partitions, F.col(zkey_col))
            .sortWithinPartitions(zkey_col)
            .write.mode("overwrite")
            .parquet(out_dir)
        )
        names = [n for n in sorted(os.listdir(out_dir)) if n.endswith(".parquet")]
        stats = _footer_stats_many(
            [os.path.join(out_dir, n) for n in names], zkey_col, stat_cols
        )
        new_files = [
            {"file": f"{data_rel}/{n}", **fs} for n, fs in zip(names, stats)
        ]
        if carry_files is not None:
            carried = list(carry_files)
        else:
            carried = list(cur["files"]) if (operation == "append" and cur) else []
        files = carried + new_files
        if created_unix is None:
            import time

            created_unix = int(time.time())
        manifest = {
            "format_version": 2,
            "snapshot_id": sid,
            "parent_id": parent_id,
            "operation": operation,
            "zkey_col": zkey_col,
            "created_unix": created_unix,
            "n_partitions": n_partitions,
            "target_parallelism": n_partitions,
            "total_rows": sum(f["rows"] for f in files),
            "files": files,
            "lineage": lineage or {},
            "metrics": {
                "n_files": len(files),
                "rows_min": min((f["rows"] for f in files), default=0),
                "rows_max": max((f["rows"] for f in files), default=0),
            },
            "summary": {
                "added_files": len(new_files),
                "added_rows": sum(f["rows"] for f in new_files),
                "carried_files": len(carried),
                **(extra_summary or {}),
            },
        }
        # immutable snapshot manifest first, pointer swing last: a crash
        # in between leaves the parent current and v{sid} orphaned (safe)
        _atomic_json(self._snap_manifest_path(sid), manifest)
        _write_manifest(self.path, manifest)
        return manifest

    # -- reads ------------------------------------------------------------
    def _paths(self, manifest: dict) -> list[str]:
        return [os.path.join(self.path, f["file"]) for f in manifest["files"]]

    def read(
        self,
        snapshot_id: int | None = None,
        *,
        as_of_unix: int | None = None,
        tag: str | None = None,
    ) -> DataFrame:
        """Scan a snapshot (current by default).  The file list comes
        from the manifest — no directory listing, and dropping a file
        from a manifest removes it from every future plan instantly."""
        m = self.snapshot(snapshot_id, as_of_unix=as_of_unix, tag=tag)
        paths = self._paths(m)
        if not paths:
            raise LookupError(f"snapshot v{m['snapshot_id']} has no data files")
        return self.spark.read.parquet(*paths)

    def read_pruned(self, intervals, snapshot_id: int | None = None) -> DataFrame:
        """Manifest file pruning (the B-tree descent) against any
        snapshot — time travel composes with interval pruning because
        stats live per file in each snapshot's own manifest."""
        from .manifest import prune_files

        m = self.snapshot(snapshot_id)
        names = prune_files(m, intervals)
        if not names:
            return self.read(snapshot_id).limit(0)
        return self.spark.read.parquet(*[os.path.join(self.path, n) for n in names])

    def read_incremental(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Rows ADDED between two snapshots (exclusive of `from`,
        inclusive of `to`, default current) — the Iceberg incremental-
        scan analog that lets a downstream consumer process only each
        day's appends instead of re-reading a 10^12-row table.

        Only valid across pure ``append`` commits: an ``overwrite`` /
        ``replace`` / merge rewrite in the range re-adds OLD rows in new
        files, so "added files" stops meaning "added rows" and this
        raises (same contract as Iceberg's incremental read).  Metadata
        cost is O(snapshots-in-range + files); the scan reads only the
        added files."""
        to_m = self.snapshot(to_snapshot_id)
        chain, m = [], to_m
        while m["snapshot_id"] != from_snapshot_id:
            if m.get("parent_id") is None:
                raise LookupError(
                    f"v{from_snapshot_id} is not an ancestor of v{to_m['snapshot_id']}"
                )
            chain.append(m)
            m = self.snapshot(m["parent_id"])
        for s in chain:
            if s["operation"] != "append":
                raise ValueError(
                    f"non-append snapshot v{s['snapshot_id']} "
                    f"({s['operation']!r}) in incremental range"
                )
        base = {f["file"] for f in m["files"]}
        added = [f["file"] for f in to_m["files"] if f["file"] not in base]
        if not added:
            return self.read(to_m["snapshot_id"]).limit(0)
        return self.spark.read.parquet(
            *[os.path.join(self.path, n) for n in added]
        )

    def read_changes(
        self, from_snapshot_id: int, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Row-level changelog between two snapshots (exclusive of
        `from`, inclusive of `to`, default current) — the Iceberg
        changelog-scan / CDC analog, and the general form of
        :meth:`read_incremental` that works across ANY commit mix
        (append, overwrite, merge, compact).

        Emits one row per distinct changed row with ``_change_type``
        ('insert' | 'delete') and ``_change_count`` (multiplicity —
        tables here are multisets, not keyed).  Semantics: the exact
        multiset difference ``to − from`` (inserts) and ``from − to``
        (deletes).

        Scale contract (100 TB): only files ADDED or REMOVED between the
        two manifests are read — files carried through every commit in
        the range never touch IO, so a merge that rewrote 3 of 10^5
        files diffs 6 files, not the table.  A carried file contributes
        identically to both sides, so skipping it is exact, and the diff
        itself is ONE groupBy-all-columns shuffle over the changed files
        (+1 for added, −1 for removed; net 0 rows — e.g. a compaction,
        or survivor rows co-located in a rewritten file — cancel out).
        Over pure appends this equals :meth:`read_incremental` with
        every row ``_change_type='insert'`` (pytest-asserted).
        """
        to_m = self.snapshot(to_snapshot_id)
        m = to_m
        while m["snapshot_id"] != from_snapshot_id:
            if m.get("parent_id") is None:
                raise LookupError(
                    f"v{from_snapshot_id} is not an ancestor of v{to_m['snapshot_id']}"
                )
            m = self.snapshot(m["parent_id"])
        from_files = {f["file"] for f in m["files"]}
        to_files = {f["file"] for f in to_m["files"]}
        added = sorted(to_files - from_files)
        removed = sorted(from_files - to_files)
        base = self.read(to_m["snapshot_id"])
        cols = base.columns
        empty = (
            base.limit(0)
            .withColumn("_change_type", F.lit("insert"))
            .withColumn("_change_count", F.lit(1).cast("long"))
        )
        if not added and not removed:
            return empty
        parts = []
        if added:
            parts.append(
                self.spark.read.parquet(
                    *[os.path.join(self.path, n) for n in added]
                ).withColumn("_w", F.lit(1))
            )
        if removed:
            parts.append(
                self.spark.read.parquet(
                    *[os.path.join(self.path, n) for n in removed]
                ).withColumn("_w", F.lit(-1))
            )
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return (
            u.groupBy(*cols)
            .agg(F.sum("_w").alias("_net"))
            .filter(F.col("_net") != 0)
            .select(
                *cols,
                F.when(F.col("_net") > 0, F.lit("insert"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
                F.abs(F.col("_net")).cast("long").alias("_change_count"),
            )
        )

    # -- keyed mutation ----------------------------------------------------
    def merge(
        self,
        delta: DataFrame,
        *,
        key_col: str | None = None,
        n_partitions: int | None = None,
        created_unix: int | None = None,
    ) -> dict:
        """Copy-on-write upsert (the MERGE INTO analog): every target row
        whose `key_col` appears in `delta` is replaced by the delta
        row(s) for that key; delta keys absent from the table are
        inserts.  Only files that can contain a delta key are rewritten;
        all other files are carried forward untouched in the new
        snapshot (operation='overwrite', parent still readable).

        Touched-file detection is DISTRIBUTED: the manifest's per-file
        [key_min, key_max] ranges (O(files), tiny) are broadcast and
        range-joined against the delta keys, so the driver never sees a
        key set — only the touched file-name list.  With ``key_col`` ==
        the table's sort column (the primary-key-sorted layout every
        upsert-heavy table uses) the ranges are disjoint and pruning is
        tight; any other key still merges correctly but rewrites every
        file (no stats), mirroring Iceberg's stats-dependent CoW.

        The reference mutates B-tree pages in place under WAL
        (sp_tree.c); this is the immutable-parquet translation of that
        update path: rewrite the touched "pages" (files), swing the
        root pointer atomically.
        """
        cur = self.current()
        if cur is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        zc = cur["zkey_col"]
        key = key_col or zc
        files = cur["files"]
        ranges = [
            (f["file"], f.get("zkey_min"), f.get("zkey_max")) for f in files
        ]
        ranged = [(n, lo, hi) for n, lo, hi in ranges if lo is not None and hi is not None]
        if key == zc and ranged:
            blind = [n for n, lo, hi in ranges if lo is None or hi is None]
            rdf = self.spark.createDataFrame(ranged, ["_file", "_kmin", "_kmax"])
            touched_rows = (
                delta.select(F.col(key).alias("_k"))
                .join(
                    F.broadcast(rdf),
                    (F.col("_k") >= F.col("_kmin")) & (F.col("_k") <= F.col("_kmax")),
                )
                .select("_file")
                .distinct()
                .collect()
            )
            touched = sorted({r["_file"] for r in touched_rows} | set(blind))
        else:
            touched = [f["file"] for f in files]  # no per-file stats: rewrite all
        touched_set = set(touched)
        carried = [f for f in files if f["file"] not in touched_set]
        if touched:
            survivors = self.spark.read.parquet(
                *[os.path.join(self.path, n) for n in touched]
            ).join(delta.select(key).distinct(), key, "left_anti")
            new_data = survivors.unionByName(delta.select(*survivors.columns))
        else:
            new_data = delta
        return self.commit(
            new_data,
            operation="overwrite",
            zkey_col=zc,
            n_partitions=n_partitions or cur.get("n_partitions", 32),
            lineage={"merged_into": cur.get("snapshot_id"), **cur.get("lineage", {})},
            created_unix=created_unix,
            carry_files=carried,
            extra_summary={
                "rewritten_files": len(touched),
                "untouched_files": len(carried),
                "merge_key": key,
            },
        )

    # -- maintenance ------------------------------------------------------
    def rollback(
        self,
        to_snapshot_id: int | None = None,
        *,
        tag: str | None = None,
        created_unix: int | None = None,
    ) -> dict:
        """Roll the table back to an earlier snapshot's state by
        committing a NEW snapshot that references exactly that
        snapshot's files — metadata-only (zero data IO, instant at any
        table size), and history-preserving: the rolled-back-over
        snapshots stay readable until expired, and the rollback itself
        is one more auditable commit (the Iceberg
        ``rollback_to_snapshot`` model, not a pointer rewind).
        """
        target = self.snapshot(to_snapshot_id, tag=tag)
        cur = self.current()
        if cur is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        sid = cur["snapshot_id"] + 1
        if created_unix is None:
            import time

            created_unix = int(time.time())
        manifest = {
            **{k: v for k, v in target.items()
               if k not in ("snapshot_id", "parent_id", "operation",
                            "created_unix", "summary", "lineage")},
            "snapshot_id": sid,
            "parent_id": cur["snapshot_id"],
            "operation": "rollback",
            "created_unix": created_unix,
            "lineage": {
                "rolled_back_to": target["snapshot_id"],
                **target.get("lineage", {}),
            },
            "summary": {
                "added_files": 0,
                "added_rows": 0,
                "carried_files": len(target["files"]),
                "rolled_back_to": target["snapshot_id"],
            },
        }
        _atomic_json(self._snap_manifest_path(sid), manifest)
        _write_manifest(self.path, manifest)
        return manifest

    def compact(
        self,
        *,
        n_partitions: int | None = None,
        created_unix: int | None = None,
    ) -> dict:
        """Rewrite the CURRENT snapshot into one fresh zkey-sorted layout
        (operation='replace').  Append-heavy tables accumulate per-commit
        mini-layouts whose zkey ranges overlap (each delta spans the full
        key space), degrading file pruning; compaction restores the
        single-sorted-run invariant.  Reads source files and writes new
        ones in the same job — safe because the destination is a fresh
        ``data/s{N}`` directory; the parent snapshot stays readable."""
        cur = self.current()
        if cur is None:
            raise FileNotFoundError(f"no manifest at {self.path}")
        return self.commit(
            self.read(),
            operation="replace",
            zkey_col=cur["zkey_col"],
            n_partitions=n_partitions or cur.get("n_partitions", 32),
            lineage={
                "compacted_from": cur.get("snapshot_id"),
                **cur.get("lineage", {}),
            },
            created_unix=created_unix,
        )

    def expire(self, *, keep_last: int = 2, dry_run: bool = False) -> dict:
        """Drop all but the newest `keep_last` snapshots and delete data
        files no kept snapshot references (the current snapshot and
        every TAGGED snapshot are always kept).  Deletion is explicit
        and separate from commits — a reader pinned to a kept snapshot
        can never lose files.  ``dry_run`` reports what would be removed
        without touching anything."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        ids = self.snapshot_ids()
        cur = self.current()
        cur_id = cur.get("snapshot_id") if cur else None
        keep = set(ids[-keep_last:])
        if cur_id is not None:
            keep.add(cur_id)
        keep.update(sid for sid in self.tags().values() if sid in set(ids))
        drop = [i for i in ids if i not in keep]
        referenced = set()
        for sid in keep:
            referenced.update(f["file"] for f in self.snapshot(sid)["files"])
        removable = set()
        for sid in drop:
            removable.update(
                f["file"] for f in self.snapshot(sid)["files"] if f["file"] not in referenced
            )
        report = {
            "kept_snapshots": sorted(keep),
            "removed_snapshots": drop,
            "removed_files": sorted(removable),
            "dry_run": dry_run,
        }
        if dry_run:
            return report
        for rel in removable:
            p = os.path.join(self.path, rel)
            if os.path.exists(p):
                os.remove(p)
        for sid in drop:
            os.remove(self._snap_manifest_path(sid))
        return report

    def remove_orphans(
        self, *, grace_unix: int | None = None, dry_run: bool = False
    ) -> dict:
        """Delete data files referenced by NO retained snapshot manifest —
        the Iceberg ``remove_orphan_files`` analog completing the
        maintenance triad (compact / expire / orphan GC).

        Orphans accumulate from (a) a commit that crashed after writing
        its ``data/s{N}`` directory but before publishing the snapshot
        manifest (the documented safe-crash window) and (b) an
        :meth:`expire` interrupted mid-delete.  Neither is referenced by
        any manifest, so no reader — current or time-traveling — can
        lose data.

        ``grace_unix``: files modified AT or after this timestamp are
        kept (reported under ``kept_recent``) — the Iceberg grace-period
        guard against deleting an IN-FLIGHT commit's data dir, which
        legitimately exists before its manifest does.  Pass None only
        when no concurrent writer can exist.  Directories left with no
        parquet and no referenced files are pruned (commit writes also
        leave _SUCCESS markers behind).
        """
        import shutil

        referenced = set()
        for sid in self.snapshot_ids():
            referenced.update(f["file"] for f in self.snapshot(sid)["files"])
        data_root = os.path.join(self.path, "data")
        removed, kept_recent = [], []
        if os.path.isdir(data_root):
            for sub in sorted(os.listdir(data_root)):
                d = os.path.join(data_root, sub)
                if not os.path.isdir(d):
                    continue
                for name in sorted(os.listdir(d)):
                    if not name.endswith(".parquet"):
                        continue
                    rel = f"data/{sub}/{name}"
                    if rel in referenced:
                        continue
                    if grace_unix is not None and os.path.getmtime(
                        os.path.join(d, name)
                    ) >= grace_unix:
                        kept_recent.append(rel)
                        continue
                    removed.append(rel)
                    if not dry_run:
                        os.remove(os.path.join(d, name))
                if not dry_run:
                    has_parquet = any(
                        n.endswith(".parquet") for n in os.listdir(d)
                    )
                    is_referenced = any(
                        r.startswith(f"data/{sub}/") for r in referenced
                    )
                    if not has_parquet and not is_referenced:
                        shutil.rmtree(d, ignore_errors=True)
        return {
            "removed_files": removed,
            "kept_recent": kept_recent,
            "dry_run": dry_run,
        }


def foreach_batch_committer(
    store: SnapshotStore,
    *,
    zkey_col: str = "zkey",
    n_partitions: int = 8,
    stat_cols: tuple = ("x", "y"),
    lineage: dict | None = None,
):
    """Exactly-once streaming ingestion into a :class:`SnapshotStore`:
    a ``foreachBatch`` function that commits each micro-batch as an
    append snapshot, recording the batch id in the snapshot lineage.

    Structured Streaming replays the in-flight batch (same ``batch_id``)
    after a failure/restart; because our commit is atomic (pointer swing
    last) the store either already holds that batch id — the replay is
    skipped — or doesn't — the replay commits it once.  Batch ids are
    monotonically increasing per checkpoint, so the ``<=`` guard makes
    the sink idempotent end-to-end: checkpointed source offsets +
    idempotent sink = exactly-once, the same argument as
    streaming/sinks.py but with the manifest pointer (not a marker
    file) as the commit record — and every micro-batch is immediately
    time-travelable and incrementally readable
    (:meth:`SnapshotStore.read_incremental`).
    """

    def _commit_batch(df: DataFrame, batch_id: int) -> None:
        cur = store.current()
        last = (cur or {}).get("lineage", {}).get("last_batch_id")
        if last is not None and batch_id <= last:
            return  # replayed batch: already committed atomically
        store.commit(
            df,
            zkey_col=zkey_col,
            n_partitions=n_partitions,
            stat_cols=stat_cols,
            lineage={**(lineage or {}), "last_batch_id": batch_id},
        )

    return _commit_batch
