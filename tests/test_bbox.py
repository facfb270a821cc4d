"""Differential end-to-end bbox tests mirroring gentest.awk (SURVEY.md
§5.2 item 3): engine row sets == brute-force closed-box predicate, 2D and
3D, single lookups and batched joins, plus partitioning invariance."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from zcurve_spark.operators.bbox import (
    bbox_join_bucketed,
    bbox_lookup,
    boxes_sql,
    bucketed_intervals,
    bucketed_intervals_dist,
    count_hits,
)
from zcurve_spark.plans.decompose import BUCKET_ROWS_PER_INTERVAL
from zcurve_spark.sources.manifest import write_sorted
from zcurve_spark.sources.points import (
    BITS,
    boxes_df,
    boxes_local_df,
    deterministic_boxes,
    points_from_lineitem,
    unaligned_boxes,
)
from zcurve_spark.sources.store import read_store
from tests.conftest import jobs_run

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pts(spark):
    df = points_from_lineitem(spark, SF_DIR).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pdf(pts):
    return pts.toPandas()


def _rowset(df):
    return sorted(map(tuple, df.values.tolist()))


def _frame(spark, boxes):
    """The box batch as the pandas frame bucketed_intervals takes."""
    return boxes_local_df(spark, boxes).toPandas()


def _brute(pdf, b):
    m = np.ones(len(pdf), dtype=bool)
    for c, lo, hi in zip(("x", "y", "z"), b["mins"], b["maxs"]):
        m &= (pdf[c] >= lo) & (pdf[c] <= hi)
    return pdf[m]


# big enough boxes to actually hit rows at sf0.001 (~6k points / 10^12 area)
def _big_boxes(n, ndims=2):
    out = []
    for qid in range(n):
        h = (qid * 2654435761 + 99991) % (2**31)
        mins, maxs = [], []
        for _ in range(ndims):
            h = (h * 1103515245 + 12345) % (2**31)
            lo = h % 800_000
            mins.append(lo)
            maxs.append(lo + 150_000)
        out.append({"qid": qid, "mins": tuple(mins), "maxs": tuple(maxs)})
    return out


class TestBboxLookup:
    def test_2d_exact_vs_brute_force(self, pts, pdf):
        for b in _big_boxes(4) + unaligned_boxes(3):
            got = bbox_lookup(pts, b["mins"], b["maxs"], bits=BITS).toPandas()
            exp = _brute(pdf, b)
            # pid is not unique in the synthetic lineitem -> compare row
            # multisets (matches the driver's order-insensitive hash)
            assert _rowset(got) == _rowset(exp[["pid", "x", "y"]]), b

    def test_3d_exact_vs_brute_force(self, pts, pdf):
        for b in _big_boxes(3, ndims=3):
            got = bbox_lookup(
                pts, b["mins"], b["maxs"], zkey_col="zkey3",
                coord_cols=("x", "y", "z"), bits=BITS,
            ).toPandas()
            exp = _brute(pdf, b)
            assert _rowset(got) == _rowset(exp[["pid", "x", "y", "z"]]), b

    def test_curve_order_variant(self, pts, pdf):
        """*_tidonly parity: no sort -> same row set."""
        b = _big_boxes(1)[0]
        got = bbox_lookup(pts, b["mins"], b["maxs"], bits=BITS, sort_by_id=False).toPandas()
        exp = _brute(pdf, b)
        assert sorted(got.pid) == sorted(exp.pid)

    def test_empty_box(self, pts):
        got = bbox_lookup(pts, (0, 0), (0, 0), bits=BITS).count()
        assert got == 0

    def test_budget_independence(self, pts, pdf):
        b = unaligned_boxes(1)[0]
        exp = _rowset(_brute(pdf, b)[["pid", "x", "y"]])
        for budget in (1, 4, 1024):
            got = bbox_lookup(pts, b["mins"], b["maxs"], bits=BITS, budget=budget).toPandas()
            assert _rowset(got) == exp


class TestBoxesSql:
    def test_no_boxes_is_false(self, pts):
        """No boxes match no row (an empty array would not resolve)."""
        assert boxes_sql(("x", "y"), []) == "false"
        assert pts.filter(F.expr(boxes_sql(("x", "y"), []))).count() == 0

    def test_3d_any_of_the_boxes(self, pts, pdf):
        """Three columns test three dims; a row in any box (or in two,
        once) passes."""
        boxes = _big_boxes(3, ndims=3) + [{"mins": (400_000,) * 3, "maxs": (600_000,) * 3}]
        got = pts.filter(F.expr(boxes_sql(("x", "y", "z"), [(b["mins"], b["maxs"]) for b in boxes])))
        exp = pd.concat([_brute(pdf, b) for b in boxes])
        assert exp.index.duplicated().any()  # the last box overlaps the first
        exp = exp[~exp.index.duplicated()][["pid", "x", "y", "z"]]  # a row of pdf once
        assert _rowset(got.select("pid", "x", "y", "z").toPandas()) == _rowset(exp)
        assert len(exp) > 0


class TestBboxBatchJoin:
    def test_counts_match_brute_force(self, spark, pts, pdf):
        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(12) + deterministic_boxes(4))]
        bdf = boxes_local_df(spark, boxes)
        bivs, shift = bucketed_intervals_dist(bdf, bits=BITS, budget=16)
        got = count_hits(bdf, bbox_join_bucketed(pts, bdf, bivs, shift)).toPandas().set_index("qid").n_hits
        for b in boxes:
            assert got[b["qid"]] == len(_brute(pdf, b)), b

    def test_bucketed_join_matches_brute_force(self, spark, pts, pdf):
        """Every (box, point) pair the join returns, with multiplicity, is
        the brute-force closed-box test's."""
        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(8) + unaligned_boxes(4))]
        bdf = boxes_local_df(spark, boxes)
        bivs, shift = bucketed_intervals_dist(bdf, bits=BITS, budget=16)
        got = bbox_join_bucketed(pts, bdf, bivs, shift).select("qid", "pid", "x", "y").toPandas()
        want = [(b["qid"], *r) for b in boxes for r in _brute(pdf, b)[["pid", "x", "y"]].values.tolist()]
        assert _rowset(got) == sorted(want)

    def test_partitioning_invariance(self, spark, pts, pdf):
        """Results identical under repartition(1|8|32) — SURVEY.md §5.2
        item 6 (scale-out safety)."""
        b = _big_boxes(1)[0]
        exp = _rowset(_brute(pdf, b)[["pid", "x", "y"]])
        for n in (1, 8, 32):
            got = bbox_lookup(pts.repartition(n), b["mins"], b["maxs"], bits=BITS).toPandas()
            assert _rowset(got) == exp


class TestDistributedDecomposition:
    def test_dist_intervals_match_driver_form(self, spark):
        """bucketed_intervals_dist (mapInPandas, r3) must emit EXACTLY
        the rows the driver-side loop emits, at the same bucket shift."""
        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(20) + unaligned_boxes(4))]
        ref, shift_ref = bucketed_intervals(_frame(spark, boxes), bits=BITS, budget=16)
        got, shift = bucketed_intervals_dist(
            boxes_df(spark, boxes), bits=BITS, budget=16, bucket_shift=shift_ref
        )
        assert "MapInPandas" in got._jdf.queryExecution().analyzed().toString()
        assert _rowset(got.toPandas()) == _rowset(ref)

    def test_dist_join_counts_match_brute_force(self, spark, pts, pdf):
        """End-to-end through the distributed decomposition, with the
        non-broadcast (shuffle hash) join path as well."""
        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(10))]
        bdf = boxes_df(spark, boxes)
        for bc in (True, False):
            bivs, shift = bucketed_intervals_dist(bdf, bits=BITS, budget=16)
            hits = bbox_join_bucketed(pts, bdf, bivs, shift, broadcast_ivs=bc)
            got = count_hits(bdf, hits).toPandas().set_index("qid").n_hits
            for b in boxes:
                assert got[b["qid"]] == len(_brute(pdf, b)), (bc, b)

    def test_local_batch_decomposes_on_driver(self, spark, monkeypatch):
        """A box relation built from pandas (a local relation) is decomposed
        on the driver: no Spark job while planning, and the driver form's
        rows and shift.  Above the size limit it goes through mapInPandas
        and gives the same rows."""
        from zcurve_spark.operators import bbox

        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(20) + unaligned_boxes(4))]
        ref, shift_ref = bucketed_intervals(_frame(spark, boxes), bits=BITS, budget=16)
        local = boxes_local_df(spark, boxes)
        (got, shift), jobs = jobs_run(spark, lambda: bucketed_intervals_dist(local, bits=BITS, budget=16))
        assert (jobs, shift) == (0, shift_ref)
        assert "MapInPandas" not in got._jdf.queryExecution().analyzed().toString()
        assert _rowset(got.toPandas()) == _rowset(ref)
        monkeypatch.setattr(bbox, "_DRIVER_BOXES", len(boxes) - 1)
        got, shift = bucketed_intervals_dist(local, bits=BITS, budget=16)
        assert "MapInPandas" in got._jdf.queryExecution().analyzed().toString()
        assert shift == shift_ref
        assert _rowset(got.toPandas()) == _rowset(ref)

    def test_local_batch_join_jobs(self, spark, pts, pdf):
        """A local batch's bucketed join with count_hits: no job while
        planning; at collect, the two broadcasts, one shuffle map stage
        and the result stage.  Empty boxes count 0."""
        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(10) + unaligned_boxes(2))]
        boxes.append({"qid": 99, "mins": (0, 0), "maxs": (0, 0)})
        local = boxes_local_df(spark, boxes)

        def plan():
            bivs, shift = bucketed_intervals_dist(local, bits=BITS, budget=16)
            return count_hits(local, bbox_join_bucketed(pts, local, bivs, shift))

        counts, jobs = jobs_run(spark, plan)
        assert jobs == 0
        rows, jobs = jobs_run(spark, counts.collect)
        assert jobs == 4
        assert {r["qid"]: r["n_hits"] for r in rows} == {b["qid"]: len(_brute(pdf, b)) for b in boxes}

    def test_all_boxes_clipped_away(self, spark, pts):
        """A batch whose boxes are all inverted (what clipping a box that
        lies off the domain leaves) has no intervals: an empty bucketed
        frame, an empty relation, and a join that counts 0 per box."""
        boxes = [{"qid": i, "mins": (500 + i, 0), "maxs": (400, 10)} for i in range(3)]
        bivs, _ = bucketed_intervals(_frame(spark, boxes), bits=BITS, budget=16)
        assert bivs.empty and list(bivs.columns) == ["qid", "lo", "hi", "solid", "bucket"]
        local = boxes_local_df(spark, boxes)
        rel, shift = bucketed_intervals_dist(local, bits=BITS, budget=16)
        rows = count_hits(local, bbox_join_bucketed(pts, local, rel, shift)).collect()
        assert {r["qid"]: r["n_hits"] for r in rows} == {0: 0, 1: 0, 2: 0}

    def test_sampled_shift_is_deterministic(self, spark):
        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(50))]
        bdf = boxes_df(spark, boxes)
        _, s1 = bucketed_intervals_dist(bdf, bits=BITS, budget=16)
        _, s2 = bucketed_intervals_dist(bdf.repartition(13), bits=BITS, budget=16)
        assert s1 == s2

    def test_bucket_width_bounds_replication(self, spark):
        """On a batch of mostly small boxes with some large ones the chosen
        width keeps the exploded relation within BUCKET_ROWS_PER_INTERVAL
        rows per interval (the median interval span would give ~800), and
        both forms choose the same width."""
        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(8) + unaligned_boxes(24))]
        bivs, shift = bucketed_intervals(_frame(spark, boxes), bits=BITS, budget=16)
        n_ivs = len(bivs.drop_duplicates(["qid", "lo"]))
        assert n_ivs < len(bivs) <= BUCKET_ROWS_PER_INTERVAL * n_ivs
        _, dist_shift = bucketed_intervals_dist(boxes_df(spark, boxes), bits=BITS, budget=16)
        assert dist_shift == shift

    def test_bad_bucket_shift_and_box_raise(self, spark):
        boxes = [dict(b, qid=i) for i, b in enumerate(_big_boxes(3))]
        for bad in (0, 2 * BITS + 1):
            with pytest.raises(ValueError, match=f"bucket_shift={bad}"):
                bucketed_intervals_dist(boxes_local_df(spark, boxes), bits=BITS, bucket_shift=bad)
            with pytest.raises(ValueError, match=f"bucket_shift={bad}"):
                bucketed_intervals_dist(boxes_df(spark, boxes), bits=BITS, bucket_shift=bad)
        outside = boxes + [{"qid": 41, "mins": (0, 0), "maxs": (1 << BITS, 5)}]
        with pytest.raises(ValueError, match=r"qid 41 \(\(0, 0\), \(1048576, 5\)\)"):
            bucketed_intervals_dist(boxes_local_df(spark, outside), bits=BITS)


def test_read_store_runs_no_job(spark, pts, tmp_path):
    """read_store opens the store with the manifest's schema: building the
    DataFrame runs no Spark job, and it reads every row."""
    path = str(tmp_path / "store")
    write_sorted(pts, path, n_partitions=4)
    df, jobs = jobs_run(spark, lambda: read_store(spark, path))
    assert jobs == 0
    want = spark.read.parquet(path)
    assert df.schema == want.schema
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, want.collect()))
