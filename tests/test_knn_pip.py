"""kNN and PIP edge cases beyond the sf0.01 oracle harness."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from zcurve_spark.operators.knn import knn
from zcurve_spark.functions.columns import zkey2_col
from zcurve_spark.operators.pip import _pip_kernel, classify_tiles, convex_polygon, pip_join
from zcurve_spark.plans.decompose import covering_tiles, decode_point, pick_cover_level
from zcurve_spark.sources.points import BITS, DOMAIN, points_from_lineitem
from tests.conftest import brute_knn, jobs_run, py4j_calls

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pts(spark):
    df = points_from_lineitem(spark, SF_DIR).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pdf(pts):
    return pts.toPandas()


class TestKnn:
    def test_corner_and_center_queries(self, pts, pdf):
        qs = [
            {"qid": 0, "qx": 0, "qy": 0, "k": 3},                      # domain corner
            {"qid": 1, "qx": DOMAIN - 1, "qy": DOMAIN - 1, "k": 7},    # far corner
            {"qid": 2, "qx": DOMAIN // 2, "qy": DOMAIN // 2, "k": 1},  # k=1
        ]
        got = knn(pts, qs, bits=BITS, domain=DOMAIN).toPandas()
        for q in qs:
            g = got[got.qid == q["qid"]].sort_values("rank")
            assert list(map(tuple, g[["pid", "x", "y", "d2"]].values.tolist())) == brute_knn(pdf, q)

    def test_k_larger_than_initial_radius_finds_all(self, pts, pdf):
        q = {"qid": 0, "qx": 500_000, "qy": 500_000, "k": 50}
        got = knn(pts, [q], bits=BITS, domain=DOMAIN).toPandas().sort_values("rank")
        assert list(map(tuple, got[["pid", "x", "y", "d2"]].values.tolist())) == brute_knn(pdf, q)

    def test_overlapping_boxes_rank_shared_points_for_both(self, pts, pdf):
        """One round's predicate ORs the queries' boxes; the driver must tag
        a row inside two boxes for both queries, and rank it for both."""
        qs = [
            {"qid": 10, "qx": 400_000, "qy": 600_000, "k": 9},
            {"qid": 11, "qx": 420_000, "qy": 610_000, "k": 9},
        ]
        got = knn(pts, qs, bits=BITS, domain=DOMAIN).toPandas()
        ranked = {}
        for q in qs:
            g = got[got.qid == q["qid"]].sort_values("rank")
            assert g["rank"].tolist() == list(range(1, q["k"] + 1))
            ranked[q["qid"]] = list(map(tuple, g[["pid", "x", "y", "d2"]].values.tolist()))
            assert ranked[q["qid"]] == brute_knn(pdf, q), q
        shared = {t[:3] for t in ranked[10]} & {t[:3] for t in ranked[11]}
        assert shared

    def test_k_beyond_first_round_returns_every_point(self, pts, pdf):
        """k above the row count: the rounds grow to the full domain, whose
        round returns every point ranked."""
        few = pts.filter(F.col("pid") % 300 == 0)
        sub = pdf[pdf.pid % 300 == 0]
        q = {"qid": 5, "qx": 123_456, "qy": 654_321, "k": len(sub) + 5}
        got, jobs = jobs_run(pts.sparkSession, lambda: knn(few, [q], bits=BITS, domain=DOMAIN))
        assert jobs >= 2  # more than one round
        got = got.toPandas().sort_values("rank")
        assert got["rank"].tolist() == list(range(1, len(sub) + 1))
        assert list(map(tuple, got[["pid", "x", "y", "d2"]].values.tolist())) == brute_knn(sub, q)

    def test_no_queries_returns_empty_result(self, pts):
        got = knn(pts, [], bits=BITS, domain=DOMAIN)
        assert jobs_run(pts.sparkSession, got.collect) == ([], 0)
        assert got.schema == knn(pts, [{"qid": 0, "qx": 0, "qy": 0, "k": 1}]).schema

    def test_k_below_one_raises(self, pts):
        qs = [{"qid": 1, "qx": 0, "qy": 0, "k": 2}, {"qid": 7, "qx": 5, "qy": 5, "k": 0}]
        with pytest.raises(ValueError, match=r"k=0 for qid 7"):
            knn(pts, qs, bits=BITS, domain=DOMAIN)

    def test_no_points_and_no_store_raises_before_any_job(self, pts):
        qs = [{"qid": 1, "qx": 0, "qy": 0, "k": 2}]
        err, jobs = jobs_run(pts.sparkSession, lambda: pytest.raises(ValueError, knn, None, qs, bits=BITS))
        err.match(r"knn needs `points` or `store_path`")
        assert jobs == 0

    def test_far_off_domain_query(self, pts, pdf):
        """A query whose boxes reach past the domain's side long before they
        hold any of it keeps going until they do."""
        qs = [{"qid": 0, "qx": -5_000_000, "qy": 300_000, "k": 2}, {"qid": 1, "qx": 10, "qy": 20, "k": 3}]
        got = _by_qid(knn(pts, qs, bits=BITS, domain=DOMAIN).collect(), qs)
        assert got == {q["qid"]: brute_knn(pdf, q) for q in qs}
        assert len(got[0]) == 2

    def test_repeated_qid_raises_before_any_job(self, pts):
        qs = [
            {"qid": 3, "qx": 0, "qy": 0, "k": 2},
            {"qid": 8, "qx": 9, "qy": 9, "k": 1},
            {"qid": 3, "qx": 5, "qy": 5, "k": 1},
        ]
        err, jobs = jobs_run(pts.sparkSession, lambda: pytest.raises(ValueError, knn, pts, qs, bits=BITS))
        err.match(r"knn: qid 3 is repeated")
        assert jobs == 0

    def test_tag_rows_in_every_box_that_holds_them(self):
        """The driver's tagging: closed boxes, a row in two boxes twice, a
        row in none dropped, d2 to each holding query."""
        from zcurve_spark.operators.knn import _tag

        rows = pd.DataFrame({"pid": [7, 8, 9], "x": [10, 15, 40], "y": [10, 20, 40]})
        boxes = pd.DataFrame(
            {"qid": [1, 2], "qx": [12, 20], "qy": [12, 20], "x0": [0, 10], "y0": [0, 15],
             "x1": [15, 30], "y1": [20, 25]}
        )
        got = sorted(map(tuple, _tag(rows, boxes)[["qid", "pid", "x", "y", "d2"]].values.tolist()))
        assert got == [(1, 7, 10, 10, 8), (1, 8, 15, 20, 73), (2, 8, 15, 20, 25)]


class TestPipKernel:
    def test_square_boundaries_inclusive(self):
        verts = np.array([(0, 0), (10, 0), (10, 10), (0, 10)], dtype=np.int64)
        px = np.array([5, 0, 10, 5, 11, -1, 0], dtype=np.int64)
        py = np.array([5, 0, 10, 10, 5, 5, 5], dtype=np.int64)
        got = _pip_kernel(px, py, verts)
        assert got.tolist() == [True, True, True, True, False, False, True]

    def test_concave_polygon(self):
        # L-shape: general ray casting must handle concavity
        verts = np.array([(0, 0), (10, 0), (10, 4), (4, 4), (4, 10), (0, 10)], dtype=np.int64)
        inside = [(2, 2), (8, 2), (2, 8), (4, 4)]
        outside = [(8, 8), (5, 5), (11, 2)]
        for (x, y), want in [(p, True) for p in inside] + [(p, False) for p in outside]:
            got = _pip_kernel(np.array([x], np.int64), np.array([y], np.int64), verts)[0]
            assert got == want, (x, y)

    def test_matches_matplotlib_free_model(self, pts, pdf):
        poly = convex_polygon(0, 400_000, 400_000, 150_000, 7, seed=2)
        hits = pip_join(pts, [poly], bits=BITS).toPandas()
        verts = np.array(poly["vertices"], dtype=np.int64)
        exp = _pip_kernel(pdf.x.to_numpy(np.int64), pdf.y.to_numpy(np.int64), verts)
        got_set = sorted(map(tuple, hits[["pid", "x", "y"]].values.tolist()))
        exp_set = sorted(map(tuple, pdf[exp][["pid", "x", "y"]].values.tolist()))
        assert got_set == exp_set


def _orient(ax, ay, bx, by, cx, cy) -> int:
    v = (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)
    return (v > 0) - (v < 0)


def _seg_intersect(p1, p2, p3, p4) -> bool:
    """Closed-segment intersection, exact integer arithmetic."""
    d1 = _orient(*p3, *p4, *p1)
    d2 = _orient(*p3, *p4, *p2)
    d3 = _orient(*p1, *p2, *p3)
    d4 = _orient(*p1, *p2, *p4)
    if ((d1 > 0) != (d2 > 0) or d1 == 0 or d2 == 0) and ((d3 > 0) != (d4 > 0) or d3 == 0 or d4 == 0):
        # collinear cases resolved by bbox overlap
        return (
            max(p1[0], p2[0]) >= min(p3[0], p4[0]) and max(p3[0], p4[0]) >= min(p1[0], p2[0])
            and max(p1[1], p2[1]) >= min(p3[1], p4[1]) and max(p3[1], p4[1]) >= min(p1[1], p2[1])
        )
    return False


def _classify_tile(tile: int, level: int, bits: int, verts) -> str:
    """Scalar oracle of `classify_tiles`, one tile at a time: 'boundary'
    when an edge has an endpoint in the closed tile or meets one of its
    sides, else 'interior' or 'outside' by the tile's corner."""
    shift = bits - level
    tx, ty = decode_point(tile, 2, level)
    x0, y0 = tx << shift, ty << shift
    x1, y1 = x0 + (1 << shift) - 1, y0 + (1 << shift) - 1
    corners = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    m = len(verts)
    for j in range(m):
        a, b = tuple(verts[j]), tuple(verts[(j + 1) % m])
        if any(x0 <= p[0] <= x1 and y0 <= p[1] <= y1 for p in (a, b)):
            return "boundary"
        if any(_seg_intersect(a, b, corners[i], corners[(i + 1) % 4]) for i in range(4)):
            return "boundary"
    inside = _pip_kernel(np.array([x0], np.int64), np.array([y0], np.int64), np.asarray(verts, np.int64))[0]
    return "interior" if inside else "outside"


def _star(poly_id, cx, cy, r_out, r_in, n, rot):
    """Concave star polygon: 2n vertices alternating between two radii."""
    ang = rot + np.arange(2 * n) * np.pi / n
    r = np.where(np.arange(2 * n) % 2, r_in, r_out)
    return {"poly_id": poly_id, "vertices": list(zip((cx + r * np.cos(ang)).astype(int).tolist(),
                                                     (cy + r * np.sin(ang)).astype(int).tolist()))}


class TestPipJoin:
    def test_vectorised_classification_matches_scalar_rule(self):
        rng = np.random.default_rng(7)
        polys = []
        for i in range(60):
            cx, cy = rng.integers(150_000, 850_000, 2).tolist()
            radius = int(rng.integers(2_000, 140_000))
            n = int(rng.integers(3, 13))
            if i % 2:
                polys.append(_star(i, cx, cy, radius, radius // 3, n, float(rng.uniform(0, 1))))
            else:
                polys.append(convex_polygon(i, cx, cy, radius, n, seed=i))
        # edges along tile sides: axis-aligned L-shapes on a level-8 grid
        # (tile side 4096 at 20 bits) and on its half-tile offsets
        for i, (s, o) in enumerate([(4096, 0), (4096, 2048), (4095, 1)]):
            x, y = 400_000 // s * s + o, 300_000 // s * s + o
            polys.append({"poly_id": 100 + i, "vertices": [
                (x, y), (x + 20 * s, y), (x + 20 * s, y + 8 * s), (x + 8 * s, y + 8 * s),
                (x + 8 * s, y + 20 * s), (x, y + 20 * s)]})
        n_tiles = 0
        classes = set()
        for p in polys:
            v = np.asarray(p["vertices"], np.int64)
            mins, maxs = tuple(v.min(0).tolist()), tuple(v.max(0).tolist())
            level = pick_cover_level(mins, maxs, bits=BITS, max_tiles=256)
            tiles = covering_tiles(mins, maxs, level, bits=BITS, max_tiles=1024)
            boundary, interior = classify_tiles(tiles, level, BITS, v)
            got = np.where(boundary, "boundary", np.where(interior, "interior", "outside")).tolist()
            want = [_classify_tile(t, level, BITS, v.tolist()) for t in tiles]
            assert got == want, p["poly_id"]
            n_tiles += len(tiles)
            classes |= set(want)
        assert n_tiles >= 8_000
        assert classes == {"boundary", "interior", "outside"}

    def test_concave_and_on_edge_points_match_kernel(self, spark):
        """Points on a grid that hits the polygons' vertices and edges:
        the SQL ray cast and the numpy kernel agree, edges inclusive."""
        polys = [
            {"poly_id": 1, "vertices": [(0, 0), (40, 0), (40, 16), (16, 16), (16, 40), (0, 40)]},
            {"poly_id": 2, "vertices": [(60, 8), (96, 30), (60, 52), (72, 30)]},
            _star(3, 48, 80, 30, 10, 5, 0.3),
        ]
        g = np.arange(0, 128, 2, dtype=np.int64)
        px, py = np.repeat(g, len(g)), np.tile(g, len(g))
        pdf = pd.DataFrame({"pid": np.arange(px.size), "x": px, "y": py})
        pts = spark.createDataFrame(pdf).withColumn("zkey", zkey2_col("x", "y"))
        got = sorted(map(tuple, pip_join(pts, polys, bits=7, max_tiles=16).select("poly_id", "pid").collect()))
        want = sorted(
            (p["poly_id"], int(i))
            for p in polys
            for i in np.flatnonzero(_pip_kernel(px, py, np.asarray(p["vertices"], np.int64)))
        )
        assert got == want

    def test_no_polygons_is_an_empty_relation(self, pts):
        got = pip_join(pts, [], bits=BITS)
        assert got.columns == pts.columns + ["poly_id"]
        assert dict(got.dtypes)["poly_id"] == "bigint"
        assert jobs_run(pts.sparkSession, got.collect) == ([], 0)

    def test_plan_is_built_in_few_py4j_calls(self, pts):
        """Four polygons: the tile classification is one numpy pass per
        polygon, the cover relation comes from pandas and the refine is
        one SQL string, so planning makes ~150 Py4J round trips at most
        (~1,200 when built per tile and Column by Column)."""
        polys = [convex_polygon(i, 250_000 + 500_000 * (i % 2), 250_000 + 500_000 * (i // 2), 100_000, 8, seed=i)
                 for i in range(4)]
        pip_join(pts, polys, bits=BITS)  # warm the Arrow conversion imports
        _, calls = py4j_calls(lambda: pip_join(pts, polys, bits=BITS))
        assert calls <= 150


class TestKnnBatch:
    """knn_batch's distributed form, over list-built batches."""

    @pytest.fixture(autouse=True)
    def _distributed(self, monkeypatch):
        """These batches are small enough for the driver form: a limit of 0
        keeps every non-empty one on the distributed rounds."""
        from zcurve_spark.operators import bbox

        monkeypatch.setattr(bbox, "_DRIVER_BOXES", 0)

    def test_matches_per_query_brute_force(self, spark, pts, pdf):
        from zcurve_spark.operators.knn import knn_batch

        qs = [
            {"qid": 0, "qx": 0, "qy": 0, "k": 3},
            {"qid": 1, "qx": DOMAIN - 1, "qy": DOMAIN - 1, "k": 7},
            {"qid": 2, "qx": DOMAIN // 2, "qy": DOMAIN // 2, "k": 1},
            {"qid": 3, "qx": 500_000, "qy": 500_000, "k": 50},
        ]
        qdf = spark.createDataFrame(
            [(q["qid"], q["qx"], q["qy"], q["k"]) for q in qs],
            "qid long, qx long, qy long, k int",
        )
        got = knn_batch(qdf, points=pts, bits=BITS, domain=DOMAIN).toPandas()
        for q in qs:
            g = got[got.qid == q["qid"]].sort_values("rank")
            assert (
                list(map(tuple, g[["pid", "x", "y", "d2"]].values.tolist()))
                == brute_knn(pdf, q)
            ), q

    def test_reliable_checkpoint_variant(self, spark, pts, pdf, tmp_path):
        """r3 VERDICT #9: on a real cluster localCheckpoint blocks die
        with their executor; knn_batch accepts a pluggable checkpointer
        so reliable checkpoint() (shared storage) is a drop-in.  Results
        must be identical to the default path."""
        from zcurve_spark.operators.knn import knn_batch

        spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
        qs = [
            {"qid": 0, "qx": 10_000, "qy": 20_000, "k": 4},
            {"qid": 1, "qx": 800_000, "qy": 700_000, "k": 6},
        ]
        qdf = spark.createDataFrame(
            [(q["qid"], q["qx"], q["qy"], q["k"]) for q in qs],
            "qid long, qx long, qy long, k int",
        )
        got = knn_batch(
            qdf,
            points=pts,
            bits=BITS,
            domain=DOMAIN,
            checkpointer=lambda df: df.checkpoint(),
        ).toPandas()
        for q in qs:
            g = got[got.qid == q["qid"]].sort_values("rank")
            assert (
                list(map(tuple, g[["pid", "x", "y", "d2"]].values.tolist()))
                == brute_knn(pdf, q)
            ), q

    def test_empty_query_batch(self, spark, pts):
        """r3 ADVICE: empty queries DataFrame must return an empty
        result, not crash on int(None)."""
        from zcurve_spark.operators.knn import knn_batch

        qdf = spark.createDataFrame([], "qid long, qx long, qy long, k int")
        got = knn_batch(qdf, points=pts, bits=BITS, domain=DOMAIN)
        assert got.count() == 0
        assert got.columns == ["qid", "rank", "pid", "x", "y", "d2"]

    def test_k_below_one_raises(self, spark, pts):
        """k < 1 fails up front, naming the query, instead of running every
        round and reporting it uncovered."""
        from zcurve_spark.operators.knn import knn_batch

        qdf = spark.createDataFrame(
            [(1, 0, 0, 3), (4, 10, 10, 0), (2, 5, 5, 1)], "qid long, qx long, qy long, k int"
        )
        with pytest.raises(ValueError, match=r"k=0 for qid 4"):
            knn_batch(qdf, points=pts, bits=BITS, domain=DOMAIN)

    def test_large_batch_shuffle_join_path(self, spark, pts, pdf):
        """broadcast_threshold=0 forces the shuffle-hash-join shape used
        at 10^5+ queries; results must be identical to brute force."""
        from zcurve_spark.operators.knn import knn_batch

        qs = [
            {"qid": i, "qx": (i * 97_003) % DOMAIN, "qy": (i * 193_007) % DOMAIN, "k": 5}
            for i in range(40)
        ]
        qdf = spark.createDataFrame(
            [(q["qid"], q["qx"], q["qy"], q["k"]) for q in qs],
            "qid long, qx long, qy long, k int",
        )
        got = knn_batch(
            qdf, points=pts, bits=BITS, domain=DOMAIN, broadcast_threshold=0
        ).toPandas()
        for q in qs:
            g = got[got.qid == q["qid"]].sort_values("rank")
            assert (
                list(map(tuple, g[["pid", "x", "y", "d2"]].values.tolist()))
                == brute_knn(pdf, q)
            ), q


def _local_batch(spark, qs):
    """The queries `qs` as a pandas-built (local-relation) batch."""
    return spark.createDataFrame(pd.DataFrame(qs, columns=["qid", "qx", "qy", "k"]))


def _by_qid(rows, qs):
    """{qid: [(pid, x, y, d2) in rank order]} of a kNN result."""
    got = pd.DataFrame(rows, columns=["qid", "rank", "pid", "x", "y", "d2"]).sort_values(["qid", "rank"])
    cols = ["pid", "x", "y", "d2"]
    return {q["qid"]: list(map(tuple, got[got.qid == q["qid"]][cols].values.tolist())) for q in qs}


@pytest.fixture
def joins(monkeypatch):
    """The optimized plans of the candidate joins knn_batch builds, one
    per round."""
    from zcurve_spark.operators import bbox

    plans, join = [], bbox.bbox_join_bucketed

    def spy(*a, **kw):
        out = join(*a, **kw)
        plans.append(out._jdf.queryExecution().optimizedPlan().toString())
        return out

    monkeypatch.setattr(bbox, "bbox_join_bucketed", spy)
    return plans


class TestKnnBatchLocal:
    """knn_batch over a batch the driver holds (the driver form)."""

    QS = [
        {"qid": 0, "qx": 0, "qy": 0, "k": 3},                          # domain corner
        {"qid": 1, "qx": DOMAIN - 1, "qy": DOMAIN - 1, "k": 7},        # far corner
        {"qid": 2, "qx": 0, "qy": DOMAIN // 2, "k": 1},                # left edge
        {"qid": 3, "qx": DOMAIN // 3, "qy": DOMAIN - 1, "k": 12},      # top edge
        {"qid": 9, "qx": 500_000, "qy": 500_000, "k": 50},
    ]

    def test_matches_brute_force(self, spark, pts, pdf, joins):
        from zcurve_spark.operators.knn import knn_batch

        got = knn_batch(_local_batch(spark, self.QS), points=pts, bits=BITS, domain=DOMAIN)
        assert len(joins) >= 2  # the first radius holds too few points: more rounds
        assert _by_qid(got.collect(), self.QS) == {q["qid"]: brute_knn(pdf, q) for q in self.QS}

    def test_k_above_row_count_returns_every_point(self, spark, pts, pdf):
        """The rounds grow to the full domain, whose round returns every
        point ranked."""
        from zcurve_spark.operators.knn import knn_batch

        few = pts.filter(F.col("pid") % 300 == 0)
        sub = pdf[pdf.pid % 300 == 0]
        qs = [
            {"qid": 5, "qx": 123_456, "qy": 654_321, "k": len(sub) + 5},
            {"qid": 6, "qx": 7, "qy": 9, "k": 2},
        ]
        got = _by_qid(knn_batch(_local_batch(spark, qs), points=few, bits=BITS, domain=DOMAIN).collect(), qs)
        assert len(got[5]) == len(sub)
        assert got == {q["qid"]: brute_knn(sub, q) for q in qs}

    def test_jobs_per_round(self, spark, pts, pdf, joins):
        """Each round is the broadcasts of the interval and box relations
        plus the join (no Python-worker job, no MapInPandas); the result is
        a local relation, so collecting it runs no job."""
        from zcurve_spark.operators.knn import knn_batch

        qdf = _local_batch(spark, self.QS)
        got, jobs = jobs_run(spark, lambda: knn_batch(qdf, points=pts, bits=BITS, domain=DOMAIN))
        assert 0 < jobs <= 3 * len(joins)
        assert not any("MapInPandas" in p for p in joins)
        rows, jobs = jobs_run(spark, got.collect)
        assert jobs == 0
        assert _by_qid(rows, self.QS) == {q["qid"]: brute_knn(pdf, q) for q in self.QS}

    def test_above_the_limit_runs_distributed(self, spark, pts, monkeypatch, joins):
        from zcurve_spark.operators import bbox
        from zcurve_spark.operators.knn import knn_batch

        want = sorted(knn_batch(_local_batch(spark, self.QS), points=pts, bits=BITS, domain=DOMAIN).collect())
        assert not any("MapInPandas" in p for p in joins)
        monkeypatch.setattr(bbox, "_DRIVER_BOXES", len(self.QS) - 1)
        n = len(joins)
        got = sorted(knn_batch(_local_batch(spark, self.QS), points=pts, bits=BITS, domain=DOMAIN).collect())
        assert joins[n:] and all("MapInPandas" in p for p in joins[n:])
        assert got == want

    def test_list_built_batch_runs_on_driver(self, spark, pts, pdf, joins):
        """A small batch that is not a local relation costs one bounded
        collect, then takes the driver form."""
        from zcurve_spark.operators.knn import knn_batch

        rows = [(q["qid"], q["qx"], q["qy"], q["k"]) for q in self.QS]
        qdf = spark.createDataFrame(rows, "qid long, qx long, qy long, k int")
        got, jobs = jobs_run(spark, lambda: knn_batch(qdf, points=pts, bits=BITS, domain=DOMAIN))
        assert joins and not any("MapInPandas" in p for p in joins)
        assert 0 < jobs <= 1 + 3 * len(joins)
        rows, jobs = jobs_run(spark, got.collect)
        assert jobs == 0
        assert _by_qid(rows, self.QS) == {q["qid"]: brute_knn(pdf, q) for q in self.QS}

    def test_queries_off_the_domain(self, spark, pts, pdf, monkeypatch):
        """A query whose first boxes clip to nothing (it lies off the domain)
        next to one that settles in round 1: both forms keep going and match
        brute force."""
        from zcurve_spark.operators import bbox
        from zcurve_spark.operators.knn import knn_batch

        qs = [
            {"qid": 0, "qx": 400_000, "qy": 300_000, "k": 4},
            {"qid": 1, "qx": -300_000, "qy": 500_000, "k": 3},
            {"qid": 2, "qx": DOMAIN + 200_000, "qy": 10, "k": 2},
        ]
        want = {q["qid"]: brute_knn(pdf, q) for q in qs}
        local = knn_batch(_local_batch(spark, qs), points=pts, bits=BITS, domain=DOMAIN)
        assert _by_qid(local.collect(), qs) == want
        monkeypatch.setattr(bbox, "_DRIVER_BOXES", 0)
        dist = knn_batch(_local_batch(spark, qs), points=pts, bits=BITS, domain=DOMAIN)
        assert _by_qid(dist.collect(), qs) == want

    @pytest.mark.parametrize("local", [True, False])
    def test_far_off_domain_query(self, spark, pts, pdf, monkeypatch, local):
        """A query at qx = -5,000,000: its boxes hold none of the domain
        until their half-side passes 5,000,000, so a radius above the
        domain's side must not settle it.  Both forms match brute force."""
        from zcurve_spark.operators import bbox
        from zcurve_spark.operators.knn import knn_batch

        qs = [{"qid": 0, "qx": -5_000_000, "qy": 300_000, "k": 2}, {"qid": 1, "qx": 10, "qy": 20, "k": 3}]
        if not local:
            monkeypatch.setattr(bbox, "_DRIVER_BOXES", 0)
        got = _by_qid(knn_batch(_local_batch(spark, qs), points=pts, bits=BITS, domain=DOMAIN).collect(), qs)
        assert got == {q["qid"]: brute_knn(pdf, q) for q in qs}
        assert len(got[0]) == 2

    def test_repeated_qid_raises_before_any_job(self, spark, pts):
        from zcurve_spark.operators.knn import knn_batch

        qs = [
            {"qid": 5, "qx": 0, "qy": 0, "k": 2},
            {"qid": 2, "qx": 9, "qy": 9, "k": 1},
            {"qid": 5, "qx": 5, "qy": 5, "k": 1},
        ]
        qdf = _local_batch(spark, qs)
        err, jobs = jobs_run(spark, lambda: pytest.raises(ValueError, knn_batch, qdf, points=pts, bits=BITS))
        err.match(r"knn_batch: qid 5 is repeated")
        assert jobs == 0

    def test_repeated_qid_raises_distributed(self, spark, pts, monkeypatch):
        from zcurve_spark.operators import bbox
        from zcurve_spark.operators.knn import knn_batch

        monkeypatch.setattr(bbox, "_DRIVER_BOXES", 0)
        rows = [(5, 0, 0, 2), (2, 9, 9, 1), (5, 5, 5, 1)]
        qdf = spark.createDataFrame(rows, "qid long, qx long, qy long, k int")
        with pytest.raises(ValueError, match=r"knn_batch: qid 5 is repeated"):
            knn_batch(qdf, points=pts, bits=BITS, domain=DOMAIN)

    def test_empty_batch(self, spark, pts):
        from zcurve_spark.operators.knn import knn_batch

        empty = pd.DataFrame(columns=["qid", "qx", "qy", "k"])
        qdf = spark.createDataFrame(empty, "qid long, qx long, qy long, k long")
        got = knn_batch(qdf, points=pts, bits=BITS, domain=DOMAIN)
        rows, jobs = jobs_run(spark, got.collect)
        assert (rows, jobs) == ([], 0)
        full = knn_batch(_local_batch(spark, self.QS[:1]), points=pts, bits=BITS, domain=DOMAIN)
        assert got.schema == full.schema

    def test_k_below_one_raises_before_any_job(self, spark, pts):
        from zcurve_spark.operators.knn import knn_batch

        qs = [{"qid": 1, "qx": 0, "qy": 0, "k": 3}, {"qid": 4, "qx": 10, "qy": 10, "k": 0}]
        qdf = _local_batch(spark, qs)
        err, jobs = jobs_run(spark, lambda: pytest.raises(ValueError, knn_batch, qdf, points=pts, bits=BITS))
        err.match(r"knn_batch: k must be >= 1, got k=0 for qid 4")
        assert jobs == 0

    def test_exhausted_rounds_raise(self, spark, pts, joins):
        from zcurve_spark.operators.knn import knn_batch

        with pytest.raises(RuntimeError, match=r"knn_batch: \d+ queries uncovered after 1 rounds"):
            knn_batch(_local_batch(spark, self.QS), points=pts, bits=BITS, domain=DOMAIN, max_rounds=1)
        assert len(joins) == 1

    @pytest.mark.parametrize("local", [True, False])
    def test_missing_inputs_raise_before_any_job(self, spark, local):
        from zcurve_spark.operators.knn import knn_batch

        if local:
            qdf = _local_batch(spark, self.QS[:1])
        else:
            qdf = spark.createDataFrame([(0, 0, 0, 3)], "qid long, qx long, qy long, k int")
        err, jobs = jobs_run(spark, lambda: pytest.raises(ValueError, knn_batch, qdf, bits=BITS))
        err.match(r"`points` or `store_path`")
        assert jobs == 0


class TestDistanceJoin:
    def test_self_join_matches_brute_force(self, spark, pts, pdf):
        import numpy as np
        from pyspark.sql import functions as F

        from zcurve_spark.operators.distance import distance_join

        sub = pts.filter((F.col("pid") % 7) == 0)
        spdf = pdf[pdf.pid % 7 == 0].reset_index(drop=True)
        r = 20_000
        got = distance_join(sub, sub, r, dedup_pairs=True).toPandas()
        got_set = sorted(map(tuple, got[["a_id", "b_id", "d2"]].values.tolist()))
        X = spdf[["x", "y"]].to_numpy()
        ids = spdf.pid.to_numpy()
        D = ((X[:, None, :] - X[None, :, :]) ** 2).sum(axis=2)
        exp = []
        n = len(ids)
        for i in range(n):
            for j in range(n):
                if ids[i] < ids[j] and D[i, j] <= r * r:
                    exp.append((int(ids[i]), int(ids[j]), int(D[i, j])))
        assert got_set == sorted(exp)

    def test_two_sided_and_radius_edge(self, spark):
        from zcurve_spark.operators.distance import distance_join

        a = spark.createDataFrame([(1, 100, 100), (2, 500, 500)], "pid long, x long, y long")
        # exactly on the radius (d2 == r^2) must be INCLUDED (closed ball)
        b = spark.createDataFrame(
            [(10, 103, 104), (11, 100, 105), (12, 100, 106)], "pid long, x long, y long"
        )
        got = sorted(
            map(tuple, distance_join(a, b, 5).select("a_id", "b_id", "d2").collect())
        )
        assert got == [(1, 10, 25), (1, 11, 25)]

    def test_negative_coordinates(self, spark):
        """r3 ADVICE: shiftrightunsigned mis-tiled negative coords and
        silently dropped cross-sign pairs; floor-division (arithmetic
        shift) tiling must find them."""
        from zcurve_spark.operators.distance import distance_join

        a = spark.createDataFrame(
            [(1, -3, -4), (2, -500, -500)], "pid long, x long, y long"
        )
        b = spark.createDataFrame(
            [(10, 0, 0), (11, -6, -8), (12, 400, 400)], "pid long, x long, y long"
        )
        got = sorted(
            map(tuple, distance_join(a, b, 5).select("a_id", "b_id", "d2").collect())
        )
        assert got == [(1, 10, 25), (1, 11, 25)]

    def test_large_coordinate_exactness(self, spark):
        """d2 uses integer multiply, not float pow: coordinate diffs
        beyond 2^26 must still classify pairs exactly at the radius
        boundary (r3 ADVICE)."""
        from zcurve_spark.operators.distance import distance_join

        big = 1 << 28  # diff magnitude where float64 pow rounding bites
        a = spark.createDataFrame([(1, 0, 0)], "pid long, x long, y long")
        b = spark.createDataFrame(
            [(10, big + 1, 0), (11, big + 2, 0)], "pid long, x long, y long"
        )
        got = sorted(
            map(tuple, distance_join(a, b, big + 1).select("a_id", "b_id").collect())
        )
        assert got == [(1, 10)]

    def test_tile_boundary_pairs_found(self, spark):
        """Pairs straddling a tile boundary are the whole point of the
        3x3 expansion: place points on both sides of a 2^s boundary."""
        from zcurve_spark.operators.distance import distance_join

        r = 100  # s=7, tile=128
        a = spark.createDataFrame([(1, 127, 127)], "pid long, x long, y long")
        b = spark.createDataFrame([(2, 129, 130), (3, 250, 250)], "pid long, x long, y long")
        got = sorted(map(tuple, distance_join(a, b, r).select("a_id", "b_id").collect()))
        assert got == [(1, 2)]
