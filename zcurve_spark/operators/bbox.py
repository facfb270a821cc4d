"""Exact bounding-box range lookup — the reference's flagship operator.

Re-expression of ``zcurve_2d_lookup`` / ``zcurve_3d_lookup``
(zcurve.c:264-493) in Spark terms:

    reference                         here
    ---------                         ----
    encode box corners                driver-side decompose_box()
    lazy LITMAX/BIGMIN splitting      budgeted decomposition (numpy-free,
      driven by B-tree pages            pure ints; laziness = budget)
    B-tree descent + page walk        manifest file pruning; the pruned
                                        files are read whole (no key
                                        BETWEENs)
    per-key `between` refinement      exact box test over the pruned
                                        files (boxes_sql: the bounds an
                                        array constant, not code)
    TID mergesort (list_sort.c)       sort by row id only where parity
                                        demands it (lookup vs *_tidonly)

Box semantics are **closed on both ends** (bitkey.c:52-55; the
reference's own oracle `x >= X and x <= X+1000`, gentest.awk:6).

Single boxes (``bbox_lookup*``) filter one scan with one predicate.  Box
*batches* (the gentest.awk workload: 10^5 boxes at once) join the points
against an interval relation instead (``bbox_join_bucketed``): one scan
serves all boxes, where one predicate per box would not scale.  The join
is an equi-join on range buckets, never a nested-loop range join.  A
batch is decomposed by one numpy kernel (``decompose_boxes``), not box by
box, and its intervals are exploded onto prefix buckets whose width
bounds the replication (``bucket_shift_for``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.decompose import (
    bucket_shift_for,
    decompose_box,
    decompose_boxes,
    explode_buckets,
    hilbert3_covers,
    hilbert_covers,
)


def boxes_sql(cols, boxes) -> str:
    """The closed-box test (bitkey.c:35-59 semantics) for any of `boxes`,
    a list of (mins, maxs), as one SQL predicate over the columns `cols`
    (2 or 3):

        exists(array(named_struct('x0', ..L, 'x1', ..L, 'y0', ..L,
        'y1', ..L), ...), _b -> x BETWEEN _b.x0 AND _b.x1 AND ...)

    The bounds are data, not code.  Catalyst folds the array into one
    constant that the generated code reads by reference, so the code
    depends on neither the bounds nor the number of boxes, and a lookup
    or kNN round with new boxes reuses the compiled class.  Bounds
    written as plain literals would be inlined into the generated Java,
    so every new box would compile new classes.  No boxes is ``false``."""
    if not boxes:
        return "false"
    dims = ("x", "y", "z")[: len(cols)]
    structs = ", ".join(
        "named_struct("
        + ", ".join(f"'{d}0', {int(lo)}L, '{d}1', {int(hi)}L" for d, lo, hi in zip(dims, mins, maxs))
        + ")"
        for mins, maxs in boxes
    )
    test = " AND ".join(f"{_quoted(c)} BETWEEN _b.{d}0 AND _b.{d}1" for c, d in zip(cols, dims))
    return f"exists(array({structs}), _b -> {test})"


def _quoted(name: str) -> str:
    """`name` as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _box_cover(curve: str, mins, maxs, bits: int, budget: int):
    """The key intervals covering the box [mins, maxs] on `curve`: "z"
    (LITMAX/BIGMIN, any arity), "hilbert" (2D quadrant cover) or
    "hilbert3" (3D octree cover), at `bits` bits per dimension."""
    if curve == "z":
        return decompose_box(tuple(mins), tuple(maxs), bits=bits, budget=budget)
    if curve == "hilbert":
        return hilbert_covers(tuple(mins), tuple(maxs), order=bits, budget=budget)
    if curve == "hilbert3":
        return hilbert3_covers(tuple(mins), tuple(maxs), order=bits, budget=budget)
    raise ValueError(f"curve={curve!r} is not one of 'z', 'hilbert', 'hilbert3'")


def bbox_lookup(
    points: DataFrame,
    mins,
    maxs,
    *,
    zkey_col: str = "zkey",
    coord_cols: tuple[str, ...] = ("x", "y"),
    id_col: str = "pid",
    bits: int = 30,
    budget: int = 128,
    sort_by_id: bool = True,
    curve: str = "z",
) -> DataFrame:
    """Rows of `points` inside the closed box [mins, maxs].

    Parity with zcurve_2d/3d_lookup: returns (id, *coords); sorted by id
    when sort_by_id (zcurve.c:331-333's TID sort), else natural order
    (the *_tidonly variants, zcurve.c:186-262).

    ``curve`` names the key in `zkey_col`: "z", "hilbert" (an hkey, the
    quadrant-recursive cover — the Hilbert analog of the reference's
    LITMAX/BIGMIN split loop, sp_query.c:324-356) or "hilbert3" (an
    hkey3, the octree cover); any other value raises ValueError.  Only
    the pruned key ranges depend on the curve, never the result.

    Candidate pruning is ONE `zkey >> shift IN (buckets)` hash-set probe
    over the prefix buckets of the decomposed intervals: an OR-of-BETWEEN
    on a *computed* key column duplicates the key expression tree per
    term (measured: 24 terms -> 10k-line generated method -> janino bails
    out to the interpreter).  One shift + InSet keeps the whole filter in
    codegen.  The bucket width follows the batch join's rule
    (:func:`bucket_shift_for`: at most 2 buckets per interval), and the
    probe holds the distinct buckets the intervals explode onto
    (:func:`explode_buckets`); exactness comes from the per-dim
    refinement regardless of bucket granularity.  The box test's bounds
    are data (:func:`boxes_sql`), so nothing is pushed to parquet: over a
    Parquet-read frame every row group is read, where literal bounds
    would let its x/y statistics skip most of them (at the price of new
    compiled classes per box).  The stored-layout path,
    bbox_lookup_pruned, prunes files by the manifest instead and filters
    with the box test alone.
    """
    intervals = _box_cover(curve, mins, maxs, bits, budget)
    if not intervals:
        return points.select(id_col, *coord_cols).limit(0)
    lo = np.array([iv.lo for iv in intervals], dtype=np.int64)
    hi = np.array([iv.hi for iv in intervals], dtype=np.int64)
    shift = bucket_shift_for(lo, hi, len(coord_cols) * bits)
    buckets = ", ".join(map(str, np.unique(explode_buckets(lo, hi, shift)[1])))
    # one SQL string: Column.isin(list) costs Py4J round trips per literal
    k = f"CAST({_quoted(zkey_col)} AS BIGINT)"
    cand = points.filter(F.expr(f"shiftrightunsigned({k}, {shift}) IN ({buckets})"))
    hits = cand.filter(F.expr(boxes_sql(coord_cols, [(mins, maxs)])))
    out = hits.select(id_col, *coord_cols)
    return out.orderBy(id_col) if sort_by_id else out


def bbox_lookup_pruned(
    spark,
    store_path: str,
    mins,
    maxs,
    *,
    coord_cols: tuple[str, ...] = ("x", "y"),
    id_col: str = "pid",
    bits: int = 30,
    budget: int = 128,
    sort_by_id: bool = True,
    curve: str = "z",
) -> DataFrame:
    """:func:`bbox_lookup` over the materialized key-sorted store, planned
    without a Spark job and answered by one.  The manifest prunes FILES
    (the B-tree descent, sp_tree.c:266-354) and supplies their schema, so
    no inference job runs.  The exact box test (:func:`boxes_sql`) runs
    on the pruned files, with no key BETWEENs: its bounds are an array
    constant, so every lookup reuses one compiled class (per-box
    literals would compile two new classes per call and run the scan in
    cold bytecode).  The trade-off: nothing is pushed to parquet
    row-group pruning (the in-page binsearch, sp_tree.c:164-237).  Each
    file ``write_sorted`` writes is one row group, so that pruning
    skipped nothing here (~1,880 rows read per hit with or without it);
    a store whose files hold many row groups would read them all, and a
    store with no manifest is read whole, every row of every file
    through the box test (:func:`.manifest.read_pruned`).  The
    id sort coalesces to one partition, so it runs no sampling or
    exchange job; a lookup box reads one or two files, so the scan loses
    little parallelism.  Result set is identical to the full-scan path
    (the bbox_rows_pruned oracle entry asserts that).

    ``curve`` selects the interval decomposition as in
    :func:`bbox_lookup`: "z" for a zkey-sorted layout, "hilbert" for an
    hkey-sorted one, "hilbert3" (3 coord_cols) for an hkey3-sorted one;
    any other value raises ValueError — the lookup machinery is
    curve-agnostic.  The key column is never named: the manifest's
    per-file key ranges do the pruning."""
    from ..sources.manifest import read_pruned

    intervals = _box_cover(curve, mins, maxs, bits, budget)
    pred = F.expr(boxes_sql(coord_cols, [(mins, maxs)]))
    out = read_pruned(spark, store_path, intervals).filter(pred).select(id_col, *coord_cols)
    return out.coalesce(1).sortWithinPartitions(id_col) if sort_by_id else out


_BUCKETED_SCHEMA = "qid long, lo long, hi long, solid boolean, bucket long"
_SAMPLE_BOXES = 64  # boxes (lowest qids) the distributed form sets the bucket width by
# Local box relations up to this size decompose on the driver.  Measured
# through a broadcast of the result on a 4-vCPU host: 2k boxes 377 ms on
# the driver vs 532 ms in mapInPandas, 5k boxes 521 vs 449 ms.
_DRIVER_BOXES = 4_000


def _corner_cols(ndims: int) -> tuple[list[str], list[str]]:
    dims = ("x", "y", "z")[:ndims]
    return [f"{d}0" for d in dims], [f"{d}1" for d in dims]


def _decompose_frame(pdf: pd.DataFrame, ndims: int, bits: int, budget: int) -> pd.DataFrame:
    """(qid, lo, hi, solid) of every box in `pdf` through the batch kernel."""
    lo_cols, hi_cols = _corner_cols(ndims)
    qid = pdf["qid"].to_numpy(np.int64)
    box, lo, hi, solid = decompose_boxes(
        pdf[lo_cols].to_numpy(np.int64), pdf[hi_cols].to_numpy(np.int64), bits, budget, qids=qid
    )
    return pd.DataFrame({"qid": qid[box], "lo": lo, "hi": hi, "solid": solid})


def _with_buckets(ivs: pd.DataFrame, shift: int) -> pd.DataFrame:
    """`ivs` exploded onto the prefix buckets each interval overlaps."""
    row, bucket = explode_buckets(ivs["lo"].to_numpy(), ivs["hi"].to_numpy(), shift)
    return pd.DataFrame({**{c: ivs[c].to_numpy()[row] for c in ivs.columns}, "bucket": bucket})


def _bucket_shift(bucket_shift, ivs: pd.DataFrame | None, ndims: int, bits: int) -> int:
    """An explicit bucket_shift (checked against the key width), or the
    replication-bounded shift of the intervals `ivs`
    (:func:`bucket_shift_for`)."""
    if bucket_shift is not None:
        if not 1 <= bucket_shift <= ndims * bits:
            raise ValueError(
                f"bucket_shift={bucket_shift} is outside [1, {ndims * bits}] "
                f"for {ndims}D keys of bits={bits}"
            )
        return bucket_shift
    return bucket_shift_for(ivs["lo"], ivs["hi"], ndims * bits)


def bucketed_intervals(
    boxes: pd.DataFrame,
    *,
    ndims: int = 2,
    bits: int = 30,
    budget: int = 16,
    bucket_shift: int | None = None,
) -> tuple[pd.DataFrame, int]:
    """A box batch held by the driver, decomposed and exploded onto the
    prefix buckets each interval overlaps: (the (qid, lo, hi, solid,
    bucket) frame, bucket_shift).  `boxes` has columns qid, x0, y0[, z0],
    x1, y1[, z1]; other columns are ignored.

    The buckets turn the point-x-interval *range* join (a nested loop,
    O(points x intervals)) into an equi-join on bucket id
    (:func:`bbox_join_bucketed`); each point probes exactly one bucket.

    Bucket width: unless `bucket_shift` is given, the smallest shift at
    which the batch's intervals explode into at most 2 bucket rows per
    interval (:func:`bucket_shift_for`).  The whole batch is measured, so
    the bound holds exactly (on perfbench's 2k-box batches the 64
    lowest-qid boxes chose shift 21, 65k rows, for 15% of batches and 22,
    45k rows, for the rest; the whole batch always gives 22).  A width
    set from the median interval span instead let a batch's large boxes
    explode: 41 bucket rows per interval on a 2k-box batch of sides
    100/1k/10k.  Decomposition is one :func:`decompose_boxes` call.  A
    box clipped to nothing (x0 > x1) has no intervals, so a batch of
    only such boxes gives an empty frame."""
    ivs = _decompose_frame(boxes, ndims, bits, budget)
    shift = _bucket_shift(bucket_shift, ivs, ndims, bits)
    return _with_buckets(ivs, shift), shift


def _local_rows(df: DataFrame, limit: int) -> list | None:
    """`df`'s rows when its optimized plan is a local relation (rows the
    driver already holds) of at most `limit` rows, else None.  Collecting
    a local relation runs no Spark job."""
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LocalRelation" or plan.data().size() > limit:
        return None
    return df.collect()


def bucketed_intervals_dist(
    boxes: DataFrame,
    *,
    bits: int = 30,
    budget: int = 16,
    bucket_shift: int | None = None,
    coord_cols: tuple[str, ...] = ("x", "y"),
) -> tuple[DataFrame, int]:
    """The bucketed interval relation of the box batch `boxes` (schema
    qid, x0, y0[, z0], x1, y1[, z1]): (ivs_bucketed, bucket_shift), with
    the (qid, lo, hi, solid, bucket) rows of :func:`bucketed_intervals`,
    for :func:`bbox_join_bucketed`.

    A small batch the driver already holds (a local relation of at most
    4,000 boxes, e.g. one built from a pandas frame) is decomposed on
    the driver by :func:`bucketed_intervals`, and its relation reaches
    Spark through pandas/Arrow: a Python-worker job costs ~300 ms of
    fixed overhead on a 4-vCPU host, while the kernel takes ~30 ms for
    2,000 boxes.

    Any other batch is decomposed in the executors (mapInPandas, one
    :func:`decompose_boxes` call per Arrow batch; the reference's
    gentest.awk workload is 10^5 boxes), and the driver never
    materializes a row.  bucket_shift, when not given, follows the
    driver form's rule on a deterministic sample (the 64 lowest qids,
    one collect) — an O(1) driver cost independent of batch size.  Both
    forms emit the same rows at the same shift (pytest-checked)."""
    ndims = len(coord_cols)
    lo_cols, hi_cols = _corner_cols(ndims)
    cols = ["qid", *lo_cols, *hi_cols]
    sel = boxes.select(*cols)
    rows = _local_rows(sel, _DRIVER_BOXES)
    if rows is not None:
        bivs, shift = bucketed_intervals(
            pd.DataFrame(rows, columns=cols), ndims=ndims, bits=bits, budget=budget, bucket_shift=bucket_shift
        )
        return boxes.sparkSession.createDataFrame(bivs, _BUCKETED_SCHEMA), shift
    sample = None
    if bucket_shift is None:
        rows = sel.orderBy("qid").limit(_SAMPLE_BOXES).collect()
        sample = _decompose_frame(pd.DataFrame(rows, columns=cols), ndims, bits, budget)
    shift = _bucket_shift(bucket_shift, sample, ndims, bits)

    def op(batches):
        for pdf in batches:
            yield _with_buckets(_decompose_frame(pdf, ndims, bits, budget), shift)

    return sel.mapInPandas(op, _BUCKETED_SCHEMA), shift


def bbox_join_bucketed(
    points: DataFrame,
    boxes_df: DataFrame,
    ivs_bucketed: DataFrame,
    bucket_shift: int,
    *,
    zkey_col: str = "zkey",
    coord_cols: tuple[str, ...] = ("x", "y"),
    broadcast_ivs: bool = True,
    broadcast_boxes: bool = True,
) -> DataFrame:
    """Box-batch spatial join as a broadcast HASH join (scale path).

    points -> bucket via one shift; equi-join against the exploded
    interval relation; range + exact refinement afterwards.  One scan of
    points answers the whole batch; AQE splits skewed buckets.

    broadcast_ivs/broadcast_boxes=False for batches whose exploded
    interval (or box) relation is too big to broadcast (10^5+ boxes):
    the joins become shuffle hash joins on bucket id / qid — still
    equi-joins, never nested loops.
    """
    k = _quoted(zkey_col)
    # non-broadcast: hint shuffle_hash, not sort-merge — SMJ would SORT
    # the entire points side on bucket (a full 10^12-row sort); a
    # shuffled hash join builds on the (much smaller) interval side
    ivs_side = (
        F.broadcast(ivs_bucketed) if broadcast_ivs else ivs_bucketed.hint("shuffle_hash")
    )
    # predicates as SQL strings: a Column built node by node costs one
    # Py4J round trip per node
    on = (F.expr(f"shiftrightunsigned({k}, {int(bucket_shift)})") == ivs_bucketed["bucket"]) & F.expr(
        f"{k} BETWEEN lo AND hi"
    )
    cand = points.join(ivs_side, on, "inner")
    boxes_side = F.broadcast(boxes_df) if broadcast_boxes else boxes_df
    dims = ("x", "y", "z")[: len(coord_cols)]
    refine = " AND ".join(f"{_quoted(c)} BETWEEN {d}0 AND {d}1" for c, d in zip(coord_cols, dims))
    return (
        cand.join(boxes_side, "qid", "inner")
        .filter(F.expr(f"solid OR ({refine or 'true'})"))
        .drop("bucket", "lo", "hi", "solid")
    )


def count_hits(boxes_df: DataFrame, hits: DataFrame) -> DataFrame:
    """Per-box hit counts (0 for empty boxes) from a spatial-join result.

    One aggregation over the hits (1 each) and the box ids (0 each), so
    the counts cost one shuffle and no join.  A qid repeated in
    `boxes_df` gets one row."""
    ones = hits.selectExpr("qid", "1 AS _hit")
    zeros = boxes_df.selectExpr("qid", "0 AS _hit")
    return ones.unionByName(zeros).groupBy("qid").agg(F.expr("sum(_hit) AS n_hits"))
