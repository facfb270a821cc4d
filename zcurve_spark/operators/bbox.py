"""Exact bounding-box range lookup — the reference's flagship operator.

Re-expression of ``zcurve_2d_lookup`` / ``zcurve_3d_lookup``
(zcurve.c:264-493) in Spark terms:

    reference                         here
    ---------                         ----
    encode box corners                driver-side decompose_box()
    lazy LITMAX/BIGMIN splitting      budgeted decomposition (numpy-free,
      driven by B-tree pages            pure ints; laziness = budget)
    B-tree descent + page walk        manifest file pruning, then a few
                                        zkey BETWEENs pushed to Parquet
                                        row-group min-max pruning
    per-key `between` refinement      per-dim box predicate (codegen)
    TID mergesort (list_sort.c)       sort by row id only where parity
                                        demands it (lookup vs *_tidonly)

Box semantics are **closed on both ends** (bitkey.c:52-55; the
reference's own oracle `x >= X and x <= X+1000`, gentest.awk:6).

Single boxes (``bbox_lookup*``) filter one scan with one predicate.  Box
*batches* (the gentest.awk workload: 10^5 boxes at once) join the points
against an interval relation instead (``bbox_join*``): one scan serves
all boxes, where one predicate per box would not scale.  A batch is
decomposed by one numpy kernel (``decompose_boxes``), not box by box, and
its intervals are exploded onto prefix buckets whose width bounds the
replication (``bucket_shift_for``).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.decompose import (
    bucket_shift_for,
    coalesce_intervals,
    decompose_box,
    decompose_boxes,
    explode_buckets,
    hilbert3_covers,
    hilbert_covers,
)


def box_sql(cols, mins, maxs) -> str:
    """Exact per-dimension closed-box test (bitkey.c:35-59 semantics) as
    one SQL string."""
    return (
        " AND ".join(
            f"{_quoted(c)} BETWEEN {int(lo)} AND {int(hi)}" for c, lo, hi in zip(cols, mins, maxs)
        )
        or "true"
    )


def box_refine_predicate(cols: list[str], mins, maxs) -> Column:
    """:func:`box_sql` as a Column."""
    return F.expr(box_sql(cols, mins, maxs))


def box_scan_sql(key_col: str, intervals, cols, mins, maxs) -> str:
    """The store-scan predicate for one box as one SQL string: <= 6
    coalesced key BETWEENs (pushed to parquet row-group pruning) AND the
    exact box test.  A Column built literal by literal would cost one
    Py4J call per literal."""
    k = _quoted(key_col)
    keys = " OR ".join(
        f"{k} BETWEEN {iv.lo} AND {iv.hi}"
        for iv in coalesce_intervals(intervals, max_intervals=6)
    )
    return f"({keys or 'false'}) AND ({box_sql(cols, mins, maxs)})"


def _quoted(name: str) -> str:
    """`name` as a back-quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def interval_buckets(intervals, max_buckets: int = 1024) -> tuple[list[int], int]:
    """(bucket ids, shift) covering `intervals` with <= max_buckets
    prefix buckets.  The coarsest interval picks the starting shift;
    widen until the bucket count fits."""
    if not intervals:
        return [], 0
    spans = sorted(iv.hi - iv.lo + 1 for iv in intervals)
    shift = max(1, spans[len(spans) // 2].bit_length())
    while True:
        buckets = set()
        for iv in intervals:
            lo_b, hi_b = iv.lo >> shift, iv.hi >> shift
            if len(buckets) + (hi_b - lo_b + 1) > max_buckets:
                buckets = None
                break
            buckets.update(range(lo_b, hi_b + 1))
        if buckets is not None:
            return sorted(buckets), shift
        shift += 2


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
) -> DataFrame:
    """Rows of `points` inside the closed box [mins, maxs].

    Parity with zcurve_2d/3d_lookup: returns (id, *coords); sorted by id
    when sort_by_id (zcurve.c:331-333's TID sort), else natural order
    (the *_tidonly variants, zcurve.c:186-262).

    Candidate pruning is ONE `zkey >> shift IN (buckets)` hash-set probe
    over prefix buckets of the decomposed intervals: an OR-of-BETWEEN on
    a *computed* key column duplicates the key expression tree per term
    (measured: 24 terms -> 10k-line generated method -> janino bails out
    to the interpreter).  One shift + InSet keeps the whole filter in
    codegen; exactness comes from the per-dim refinement regardless of
    bucket granularity.  (The stored-layout path, bbox_lookup_pruned,
    uses BETWEENs instead: there zkey is a plain column — no duplication —
    and the BETWEENs push down to parquet row groups.)
    """
    intervals = decompose_box(tuple(mins), tuple(maxs), bits=bits, budget=budget)
    if not intervals:
        return points.select(id_col, *coord_cols).limit(0)
    buckets, shift = interval_buckets(intervals)
    k = _as_long(points, zkey_col)
    cand = points.filter(F.shiftrightunsigned(k, shift).isin(buckets))
    hits = cand.filter(box_refine_predicate(list(coord_cols), mins, maxs))
    out = hits.select(id_col, *coord_cols)
    return out.orderBy(id_col) if sort_by_id else out


def _as_long(points: DataFrame, zkey_col: str):
    return F.col(zkey_col).cast("long")


def bbox_lookup_hilbert(
    points: DataFrame,
    mins,
    maxs,
    *,
    hkey_col: str = "hkey",
    coord_cols: tuple[str, ...] = ("x", "y"),
    id_col: str = "pid",
    order: int = 30,
    budget: int = 128,
    sort_by_id: bool = True,
) -> DataFrame:
    """Exact box lookup over a HILBERT-keyed layout: quadrant-recursive
    interval cover (plans.decompose.hilbert_covers — the Hilbert analog
    of the reference's LITMAX/BIGMIN split loop, sp_query.c:324-356),
    bucket-IN pruning, exact per-dim refinement.  Same result contract
    as bbox_lookup; only the curve (and therefore the pruned key ranges)
    differs.  With 3 coord_cols the octree cover (hilbert3_covers) is
    used over a hilbert3-keyed layout."""
    if len(coord_cols) == 3:
        intervals = hilbert3_covers(tuple(mins), tuple(maxs), order=order, budget=budget)
    else:
        intervals = hilbert_covers(tuple(mins), tuple(maxs), order=order, budget=budget)
    if not intervals:
        return points.select(id_col, *coord_cols).limit(0)
    buckets, shift = interval_buckets(intervals)
    k = _as_long(points, hkey_col)
    cand = points.filter(F.shiftrightunsigned(k, shift).isin(buckets))
    hits = cand.filter(box_refine_predicate(list(coord_cols), mins, maxs))
    out = hits.select(id_col, *coord_cols)
    return out.orderBy(id_col) if sort_by_id else out


def bbox_lookup_pruned(
    spark,
    store_path: str,
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
    """:func:`bbox_lookup` over the materialized key-sorted store, planned
    without a Spark job and answered by one.  The manifest prunes FILES
    (the B-tree descent, sp_tree.c:266-354) and supplies their schema, so
    no inference job runs.  One SQL predicate (:func:`box_scan_sql`)
    filters the scan: <= 6 coalesced key BETWEENs, pushed to parquet
    row-group pruning (the in-page binsearch, sp_tree.c:164-237;
    Catalyst's cost grows steeply with OR-chain length), AND the exact
    per-dim box refinement.  The id sort coalesces to one partition, so
    it runs no sampling or exchange job; a lookup box reads one or two
    files, so the scan loses little parallelism.  Result set is identical
    to the full-scan path (the bbox_rows_pruned oracle entry asserts
    that).

    ``curve`` selects the interval decomposition: "z" (LITMAX/BIGMIN)
    for a zkey-sorted layout, "hilbert" (quadrant cover) for an
    hkey-sorted layout, "hilbert3" (octree cover, 3 coord_cols) for an
    hkey3-sorted layout — the lookup machinery is curve-agnostic."""
    from ..sources.manifest import read_pruned

    if curve == "hilbert":
        intervals = hilbert_covers(tuple(mins), tuple(maxs), order=bits, budget=budget)
    elif curve == "hilbert3":
        intervals = hilbert3_covers(tuple(mins), tuple(maxs), order=bits, budget=budget)
    else:
        intervals = decompose_box(tuple(mins), tuple(maxs), bits=bits, budget=budget)
    pred = F.expr(box_scan_sql(zkey_col, intervals, coord_cols, mins, maxs))
    out = read_pruned(spark, store_path, intervals).filter(pred).select(id_col, *coord_cols)
    return out.coalesce(1).sortWithinPartitions(id_col) if sort_by_id else out


_IVS_SCHEMA = "qid long, lo long, hi long, solid boolean"
_BUCKETED_SCHEMA = _IVS_SCHEMA + ", bucket long"
_SAMPLE_BOXES = 64  # boxes (lowest qids) the distributed form sets the bucket width by
# Local box relations up to this size decompose on the driver.  Measured
# through a broadcast of the result on a 4-vCPU host: 2k boxes 377 ms on
# the driver vs 532 ms in mapInPandas, 5k boxes 521 vs 449 ms.
_DRIVER_BOXES = 4_000


def _corner_cols(ndims: int) -> tuple[list[str], list[str]]:
    dims = ("x", "y", "z")[:ndims]
    return [f"{d}0" for d in dims], [f"{d}1" for d in dims]


def _box_frame(boxes) -> tuple[pd.DataFrame, int]:
    """(the dict-form batch as a boxes_df-shaped frame, ndims)."""
    ndims = len(boxes[0]["mins"]) if boxes else 2
    lo_cols, hi_cols = _corner_cols(ndims)
    corners = np.array([(*b["mins"], *b["maxs"]) for b in boxes], np.int64)
    pdf = pd.DataFrame(corners.reshape(len(boxes), 2 * ndims), columns=lo_cols + hi_cols)
    pdf.insert(0, "qid", np.array([b["qid"] for b in boxes], np.int64))
    return pdf, ndims


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


def intervals_df(spark, boxes, bits: int = 30, budget: int = 64) -> DataFrame:
    """Decompose a batch of boxes into one interval relation.

    `boxes` is a list of dicts with keys qid, mins, maxs.  Output schema:
    (qid, lo, hi, solid) — small (<= budget * n_boxes rows), meant to be
    broadcast.  One :func:`decompose_boxes` call decomposes the batch.
    """
    pdf, ndims = _box_frame(boxes)
    return spark.createDataFrame(_decompose_frame(pdf, ndims, bits, budget), _IVS_SCHEMA)


def bucketed_intervals_df(
    spark,
    boxes,
    bits: int = 30,
    budget: int = 16,
    bucket_shift: int | None = None,
):
    """Decompose a box batch and explode each interval onto the prefix
    buckets it overlaps.  Returns (ivs_df, bucket_shift).

    Purpose: turn the point-x-interval *range* join (which Spark executes
    as BroadcastNestedLoopJoin — O(points x intervals), hopeless at
    10^12 x 10^6) into a plain **equi-join on bucket id** (hash join,
    shuffle-free with a broadcast build side); each point probes exactly
    one bucket.

    Bucket width: unless `bucket_shift` is given, the smallest shift at
    which the batch's intervals explode into at most 2 bucket rows per
    interval (:func:`bucket_shift_for`).  The whole batch is measured,
    so the bound holds exactly and a batch near it cannot flip between
    widths from one sample to the next (on perfbench's 2k-box batches
    the 64 lowest-qid boxes chose shift 21, 65k rows, for 15% of
    batches and 22, 45k rows, for the rest; the whole batch always
    gives 22).  A width set
    from the median interval span instead let a batch's large boxes
    explode: 41 bucket rows per interval on a 2k-box batch of sides
    100/1k/10k.  Decomposition is one :func:`decompose_boxes` call and
    the buckets come from :func:`explode_buckets`; the relation reaches
    Spark through pandas/Arrow.
    """
    pdf, ndims = _box_frame(boxes)
    return _bucketed_local(spark, pdf, ndims, bits, budget, bucket_shift)


def _bucketed_local(spark, pdf: pd.DataFrame, ndims: int, bits: int, budget: int, bucket_shift):
    """The bucketed relation of the boxes in `pdf`, built on the driver."""
    ivs = _decompose_frame(pdf, ndims, bits, budget)
    shift = _bucket_shift(bucket_shift, ivs, ndims, bits)
    return spark.createDataFrame(_with_buckets(ivs, shift), _BUCKETED_SCHEMA), shift


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
    """Distributed box-batch decomposition: the mapInPandas form of
    :func:`bucketed_intervals_df` for LARGE batches (the reference's
    gentest.awk workload is 10^5 boxes; here decomposition runs inside
    executors, one :func:`decompose_boxes` call per Arrow batch, and the
    driver never materializes a row).

    `boxes` schema: (qid, x0, y0[, z0], x1, y1[, z1]).  Returns
    (ivs_bucketed, bucket_shift) with the same (qid, lo, hi, solid,
    bucket) contract as the driver-side form — pytest-checked identical.

    bucket_shift, when not given, follows the driver form's rule on a
    deterministic sample (the 64 lowest qids, one collect) — an O(1)
    driver cost independent of batch size.

    A small batch the driver already holds (a local relation of at most
    4,000 boxes, e.g. one built from a pandas frame) is decomposed on
    the driver instead, by the driver form's code: a Python-worker job
    costs ~300 ms of fixed overhead on a 4-vCPU host, while the kernel
    takes ~30 ms for 2,000 boxes.  Larger batches go to the executors,
    where the kernel runs in parallel."""
    ndims = len(coord_cols)
    lo_cols, hi_cols = _corner_cols(ndims)
    cols = ["qid", *lo_cols, *hi_cols]
    sel = boxes.select(*cols)
    rows = _local_rows(sel, _DRIVER_BOXES)
    if rows is not None:
        pdf = pd.DataFrame(rows, columns=cols)
        return _bucketed_local(boxes.sparkSession, pdf, ndims, bits, budget, bucket_shift)
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


def bbox_join(
    points: DataFrame,
    boxes_df: DataFrame,
    ivs: DataFrame,
    *,
    zkey_col: str = "zkey",
    coord_cols: tuple[str, ...] = ("x", "y"),
) -> DataFrame:
    """Box-batch spatial join: every point joined to every box containing it.

    `boxes_df` schema: (qid, x0, y0[, z0], x1, y1[, z1]); `ivs` from
    :func:`intervals_df`.  Plan: broadcast-range-join points x intervals
    (a point matches at most a handful of intervals since intervals are
    disjoint per qid), then exact refinement against the box corners.
    One scan of `points` answers the whole batch — the scalable analog of
    calling the reference SRF 10^5 times (gentest.awk workload).
    """
    k = F.col(zkey_col)
    cand = points.join(
        F.broadcast(ivs),
        (k >= F.col("lo")) & (k <= F.col("hi")),
        "inner",
    )
    cand = cand.join(F.broadcast(boxes_df), "qid", "inner")
    pred = F.lit(True)
    dims = ("x", "y", "z")[: len(coord_cols)]
    for c, d in zip(coord_cols, dims):
        pred = pred & F.col(c).between(F.col(f"{d}0"), F.col(f"{d}1"))
    # solid intervals need no refinement (every key in them is in the box)
    return cand.filter(F.col("solid") | pred)


def count_hits(boxes_df: DataFrame, hits: DataFrame) -> DataFrame:
    """Per-box hit counts (0 for empty boxes) from a spatial-join result.

    One aggregation over the hits (1 each) and the box ids (0 each), so
    the counts cost one shuffle and no join.  A qid repeated in
    `boxes_df` gets one row."""
    ones = hits.selectExpr("qid", "1 AS _hit")
    zeros = boxes_df.selectExpr("qid", "0 AS _hit")
    return ones.unionByName(zeros).groupBy("qid").agg(F.expr("sum(_hit) AS n_hits"))


def count_boxes(points: DataFrame, boxes_df: DataFrame, ivs: DataFrame, **kw) -> DataFrame:
    """Per-box hit counts — the reference's benchmark query shape
    (gentest.awk:6: `select count(1) ... where x >= ... and y <= ...`),
    executed as ONE distributed join instead of 10^5 serial lookups."""
    return count_hits(boxes_df, bbox_join(points, boxes_df, ivs, **kw))
