"""Materialized zkey-sorted point store — the query-path storage layer.

* :func:`points_store` materializes the canonical points table
  zkey-range-partitioned + sorted + manifested under a work dir, once
  per (input, bits) fingerprint — re-runs resume (StageRunner).
* :func:`read_store` reads a whole store at its declared parallelism
  (the box-batch join's input).  Single lookups and ``knn`` rounds read
  through :func:`.manifest.read_pruned` instead: the manifest prunes
  files (the B-tree descent, sp_tree.c:266-354), and the exact box test
  runs on the pruned files, with no key BETWEENs.

The work dir defaults to ``$SPARK_GRAFT_WORK_DIR`` or /tmp/zcurve_stage;
at cluster scale this is the Iceberg warehouse path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .manifest import StageRunner, _open_files, load_manifest
from .points import BITS, points_from_lineitem

STORE_VERSION = 1  # bump to invalidate layouts after encoding changes


def work_root() -> str:
    return os.environ.get("SPARK_GRAFT_WORK_DIR", "/tmp/zcurve_stage")


def _input_fingerprint(sf_dir: str, table: str, **params) -> str:
    p = f"{sf_dir}/{table}.parquet"
    st = os.stat(p)
    ptag = ",".join(f"{k}={params[k]}" for k in sorted(params))
    return f"{p}:{st.st_size}:{int(st.st_mtime)}:v{STORE_VERSION}:{ptag}"


def points_store(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_partitions: int = 32,
) -> str:
    """Materialize (or resume) the zkey-sorted points layout; returns its
    path.  Idempotent per (lineitem stats, bits, partitions)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    sr = StageRunner(spark, os.path.join(work_root(), tag))
    fp = _input_fingerprint(sf_dir, "lineitem", bits=BITS, n_partitions=n_partitions)
    sr.run(
        "points_sorted",
        fp,
        lambda: points_from_lineitem(spark, sf_dir),
        zkey_col="zkey",
        n_partitions=n_partitions,
    )
    return sr.stage_path("points_sorted")


def hilbert_points_store(
    spark: SparkSession,
    sf_dir: str,
    *,
    order: int = BITS,
    n_partitions: int = 32,
) -> str:
    """Materialize (or resume) the HILBERT-key-sorted points layout —
    the second curve of the north star as a physical sort order.  The
    hkey column is computed once at write time (Arrow-batched numpy);
    queries over this layout never re-encode."""
    from pyspark.sql import functions as F

    from ..functions.udfs import hilbert2_udf

    tag = os.path.basename(os.path.normpath(sf_dir))
    sr = StageRunner(spark, os.path.join(work_root(), tag))
    fp = _input_fingerprint(
        sf_dir, "lineitem", curve="hilbert", order=order, n_partitions=n_partitions
    )
    sr.run(
        "points_hsorted",
        fp,
        lambda: points_from_lineitem(spark, sf_dir).withColumn(
            "hkey", hilbert2_udf(order)(F.col("x"), F.col("y"))
        ),
        zkey_col="hkey",
        n_partitions=n_partitions,
    )
    return sr.stage_path("points_hsorted")


def hilbert3_points_store(
    spark: SparkSession,
    sf_dir: str,
    *,
    order: int = BITS,
    n_partitions: int = 32,
) -> str:
    """Materialize (or resume) the 3D-HILBERT-key-sorted points layout —
    closes the curve x storage matrix (r3 VERDICT missing #3): hilbert-3D
    had keys and octree covers but no hkey3-sorted store.  The hkey3
    column (Skilling transpose, 3*order bits <= 60, sort-safe long) is
    computed once at write time; pruned 3D lookups never re-encode."""
    from pyspark.sql import functions as F

    from ..functions.udfs import hilbert3_udf

    tag = os.path.basename(os.path.normpath(sf_dir))
    sr = StageRunner(spark, os.path.join(work_root(), tag))
    fp = _input_fingerprint(
        sf_dir, "lineitem", curve="hilbert3", order=order, n_partitions=n_partitions
    )
    sr.run(
        "points_h3sorted",
        fp,
        lambda: points_from_lineitem(spark, sf_dir).withColumn(
            "hkey3", hilbert3_udf(order)(F.col("x"), F.col("y"), F.col("z"))
        ),
        zkey_col="hkey3",
        n_partitions=n_partitions,
    )
    return sr.stage_path("points_h3sorted")


def read_store(spark: SparkSession, path: str) -> DataFrame:
    """Read a materialized store at the parallelism ITS MANIFEST declares
    (r2 VERDICT #10: one source of truth).  The manifest's files open
    with the schema it records, so building the DataFrame runs no Spark
    job (a manifest without a schema, or no manifest, falls back to
    schema inference, which runs one).  If the layout has at least
    `target_parallelism` files (the normal case — write_sorted creates
    one file per range partition), this is a plain scan; a coarser
    layout (e.g. compacted externally) is repartitioned up to the
    recorded target, so downstream operators never inherit accidental
    single-file serialization and never need ad-hoc fan_out calls."""
    m = load_manifest(path)
    if m is None:
        return spark.read.parquet(path)
    df = _open_files(spark, path, m, [f["file"] for f in m["files"]])
    target = int(m.get("target_parallelism") or m.get("n_partitions") or 0)
    if target and len(m["files"]) < target:
        return df.repartition(target)
    return df


def s2_spans_store(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_partitions: int = 32,
) -> str:
    """Materialize (or resume) the S2-LEAF-sorted interleaved-span
    layout — extends the curve x storage matrix (z2/z3/hilbert2/
    hilbert3) to the spherical index: every span of the interleaved
    documents stored with its leaf S2 cell id (signed long, the
    BigQuery convention) as the physical sort key, manifest per-file
    [key_min, key_max], so rect covers prune FILES exactly like
    zkey/hkey interval lists do (sp_tree.c:266-354 descent analog).
    Faces 4-5 sort before 0-3 in signed order — a consistent total
    order shared by the manifest stats, the cover intervals, and the
    pushed BETWEEN filters, so containment stays exact."""
    from pyspark.sql import functions as F

    from ..functions.s2 import s2_cell_udf
    from .interleaved import explode_spans, interleaved_docs, with_span_geo

    tag = os.path.basename(os.path.normpath(sf_dir))
    sr = StageRunner(spark, os.path.join(work_root(), tag))
    fp = _input_fingerprint(sf_dir, "documents", curve="s2", n_partitions=n_partitions)
    sr.run(
        "spans_s2sorted",
        fp,
        lambda: with_span_geo(explode_spans(interleaved_docs(spark, sf_dir)))
        .select("doc_id", "span_idx", "lon", "lat")
        .withColumn("s2key", s2_cell_udf()(F.col("lon"), F.col("lat"))),
        zkey_col="s2key",
        n_partitions=n_partitions,
    )
    return sr.stage_path("spans_s2sorted")


def table_store(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    *,
    sort_col: str,
    n_partitions: int = 32,
) -> str:
    """Materialize (or resume) ANY input table as a sorted + manifested
    layout — the generic form of :func:`points_store` for non-point
    tables (e.g. documents sorted by doc_id so dedup scans start from a
    declared-parallelism, range-partitioned layout instead of whatever
    file count the raw export happened to have)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    sr = StageRunner(spark, os.path.join(work_root(), tag))
    fp = _input_fingerprint(sf_dir, table, sort=sort_col, n_partitions=n_partitions)
    sr.run(
        f"{table}_sorted",
        fp,
        lambda: spark.read.parquet(f"{sf_dir}/{table}.parquet"),
        zkey_col=sort_col,
        n_partitions=n_partitions,
    )
    return sr.stage_path(f"{table}_sorted")


def store_total_rows(path: str) -> int | None:
    m = load_manifest(path)
    return m["total_rows"] if m else None
