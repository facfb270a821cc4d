"""Iceberg-shaped storage layer: zkey-sorted Parquet + JSON manifest.

The reference's index is a B-tree over the z-key expression
(sp_tree.c:5); our analog is physical layout + statistics:

* ``write_sorted`` — range-partition by zkey, sort within partitions,
  write Parquet.  Range partitioning = tree levels; per-file and
  per-row-group min/max = page bounds.
* a **manifest** (JSON snapshot) recording per-file zkey min/max, row
  counts, per-partition lineage + metrics — the Iceberg-manifest-shaped
  contract (no Iceberg runtime jar in this sandbox; the manifest is
  API-shaped so a real catalog can replace it).
* ``read_pruned`` — file-level pruning against decomposed intervals
  (the B-tree *descent*, sp_tree.c:266-354).  The lookups run the exact
  box test on the pruned files, with no key BETWEENs below it (the
  in-page binary search, sp_tree.c:164-237, has no analog): each file
  is one row group, so pushed key ranges skipped nothing inside a file,
  and their per-query literals compiled new code for every query.
* ``StageRunner`` — resumable checkpointed stages: a stage whose
  manifest exists with matching input fingerprint is skipped on re-run
  (north rule: "any stage is resumable", per-partition lineage+metrics).
"""

from __future__ import annotations

import json
import os
import time
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

MANIFEST_NAME = "_zcurve_manifest.json"


def _write_manifest(path: str, manifest: dict) -> None:
    """Atomic manifest write: temp file in the same directory +
    os.replace (ADVICE r4 — a crash mid-open('w') would corrupt the
    manifest that StageRunner resume and every pruned reader depend on;
    os.replace is atomic on POSIX within one filesystem)."""
    final = os.path.join(path, MANIFEST_NAME)
    tmp = final + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, final)


def _footer_stats_many(
    paths: list[str], zkey_col: str, stat_cols=(), max_workers: int = 16
) -> list[dict]:
    """Footer stats for many files via a driver-side thread pool (r6):
    the per-commit stats pass was a serial pyarrow loop — pure metadata
    I/O that parallelizes cleanly (pyarrow footer reads release the GIL)
    and showed up as ~0.3-0.6s per 32-file commit in snapshot_cycle."""
    from concurrent.futures import ThreadPoolExecutor

    if len(paths) <= 1:
        return [_footer_stats(p, zkey_col, stat_cols) for p in paths]
    with ThreadPoolExecutor(max_workers=min(max_workers, len(paths))) as pool:
        return list(pool.map(lambda p: _footer_stats(p, zkey_col, stat_cols), paths))


def _footer_stats(fpath: str, zkey_col: str, stat_cols=()) -> dict:
    """Per-file stats from the parquet FOOTER only (no data scan):
    zkey min/max per row group + whole-file min/max for `stat_cols` —
    the per-column stats an Iceberg manifest carries for free."""
    md = pq.ParquetFile(fpath).metadata
    name_to_idx = (
        {
            md.row_group(0).column(i).path_in_schema: i
            for i in range(md.num_columns)
        }
        if md.num_row_groups
        else {}
    )
    kmin = kmax = None
    col_idx = name_to_idx.get(zkey_col)
    rgs = []
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(col_idx).statistics
        rgs.append({"rows": md.row_group(rg).num_rows,
                    "zkey_min": st.min if st else None,
                    "zkey_max": st.max if st else None})
        if st:
            kmin = st.min if kmin is None else min(kmin, st.min)
            kmax = st.max if kmax is None else max(kmax, st.max)
    stats = {}
    for c in stat_cols:
        ci = name_to_idx.get(c)
        if ci is None:
            continue
        cmin = cmax = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(ci).statistics
            if st:
                cmin = st.min if cmin is None else min(cmin, st.min)
                cmax = st.max if cmax is None else max(cmax, st.max)
        if cmin is not None:
            stats[c] = {"min": cmin, "max": cmax}
    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(fpath),
        "zkey_min": kmin,
        "zkey_max": kmax,
        "row_groups": rgs,
        "stats": stats,
    }


def write_sorted(
    df: DataFrame,
    path: str,
    *,
    zkey_col: str = "zkey",
    n_partitions: int = 32,
    lineage: dict | None = None,
    stat_cols: tuple = ("x", "y"),
) -> dict:
    """Write a zkey-range-partitioned, zkey-sorted Parquet dataset plus a
    manifest with per-file zkey min/max, row counts, per-column coordinate
    min/max (`stat_cols`, skipped silently when absent), and lineage."""
    (
        df.repartitionByRange(n_partitions, F.col(zkey_col))
        .sortWithinPartitions(zkey_col)
        .write.mode("overwrite")
        .parquet(path)
    )
    names = [n for n in sorted(os.listdir(path)) if n.endswith(".parquet")]
    stats = _footer_stats_many(
        [os.path.join(path, n) for n in names], zkey_col, stat_cols
    )
    files = [{"file": n, **fs} for n, fs in zip(names, stats)]
    manifest = {
        "format_version": 1,
        "zkey_col": zkey_col,
        "created_unix": int(time.time()),
        "n_partitions": n_partitions,
        # the layout's intended scan parallelism — readers consult THIS
        # (sources.store.read_store) instead of guessing from file
        # counts, so hot paths never depend on accidental file layout
        # (r2 VERDICT #10); at cluster scale a catalog carries it
        "target_parallelism": n_partitions,
        "total_rows": sum(f["rows"] for f in files),
        # readers open pruned files with this schema instead of running
        # Spark's schema-inference job on every read
        "schema": df.schema.json(),
        "files": files,
        "lineage": lineage or {},
        "metrics": {
            "n_files": len(files),
            "rows_min": min((f["rows"] for f in files), default=0),
            "rows_max": max((f["rows"] for f in files), default=0),
        },
    }
    _write_manifest(path, manifest)
    return manifest


def load_manifest(path: str) -> dict | None:
    mp = os.path.join(path, MANIFEST_NAME)
    if not os.path.exists(mp):
        return None
    with open(mp) as fh:
        return json.load(fh)


def prune_files(manifest: dict, intervals) -> list[str]:
    """File names whose [zkey_min, zkey_max] overlaps any interval —
    the manifest-level analog of the B-tree root->leaf descent.

    `intervals`: Interval objects, (lo, hi) pairs, or a frame with lo and
    hi columns (a decomposed batch); keys are int64, as the store's key
    column is.  One vectorised pass: a file overlaps some interval iff
    the largest hi among the intervals starting at or below its zkey_max
    reaches its zkey_min."""
    if isinstance(intervals, pd.DataFrame):
        lo, hi = intervals["lo"].to_numpy(np.int64), intervals["hi"].to_numpy(np.int64)
    else:
        pairs = [(iv.lo, iv.hi) if hasattr(iv, "lo") else (iv[0], iv[1]) for iv in intervals]
        lo, hi = np.array(pairs, np.int64).reshape(-1, 2).T
    files = [f for f in manifest["files"] if f["zkey_min"] is not None]
    if not lo.size or not files:
        return []
    order = np.argsort(lo, kind="stable")
    reach = np.maximum.accumulate(hi[order])
    kmin = np.array([f["zkey_min"] for f in files], np.int64)
    last = np.searchsorted(lo[order], np.array([f["zkey_max"] for f in files], np.int64), "right") - 1
    hit = (last >= 0) & (reach[np.maximum(last, 0)] >= kmin)
    return [f["file"] for f, h in zip(files, hit) if h]


def read_pruned(spark: SparkSession, path: str, intervals) -> DataFrame:
    """Read only the files that can contain keys in `intervals`; callers
    still apply the exact box test below this.  Files open with the
    manifest's schema, so building the DataFrame runs no Spark job; a
    manifest written without a ``schema`` falls back to schema
    inference, which runs one.  A store with no manifest at all prunes
    nothing: this reads the whole store (inferring its schema), and the
    lookups and kNN rounds above it scan every row of every file through
    their box test.  `intervals` as for :func:`prune_files`."""
    manifest = load_manifest(path)
    if manifest is None:
        return spark.read.parquet(path)
    return _open_files(spark, path, manifest, prune_files(manifest, intervals))


def _open_files(spark: SparkSession, path: str, manifest: dict, names: list[str]) -> DataFrame:
    """The store files `names` as one DataFrame, read with the manifest's
    schema when it has one; no names -> an empty DataFrame of that schema."""
    reader = spark.read
    if "schema" in manifest:
        reader = reader.schema(StructType.fromJson(json.loads(manifest["schema"])))
    if not names:
        # an empty local relation: collecting it runs no job
        return reader.parquet(path).limit(0)
    return reader.parquet(*[os.path.join(path, n) for n in names])


class StageRunner:
    """Checkpointed, resumable pipeline stages.

    Each stage writes a zkey-sorted dataset + manifest keyed by an input
    fingerprint; re-running with the same fingerprint skips the compute
    (resume-from-checkpoint).  Lineage chains stage -> inputs."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def stage_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def run(
        self,
        name: str,
        fingerprint: str,
        build: Callable[[], DataFrame],
        *,
        zkey_col: str = "zkey",
        n_partitions: int = 32,
    ) -> DataFrame:
        path = self.stage_path(name)
        m = load_manifest(path)
        if m is not None and m["lineage"].get("fingerprint") == fingerprint:
            return self.spark.read.parquet(path)  # resume: skip recompute
        df = build()
        write_sorted(
            df,
            path,
            zkey_col=zkey_col,
            n_partitions=n_partitions,
            lineage={"stage": name, "fingerprint": fingerprint},
        )
        return self.spark.read.parquet(path)
