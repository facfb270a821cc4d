"""Decomposition tests: disjointness, exact cover at every budget, solid
purity (with the alignment fix), the reference-bug regression case
(SURVEY.md §5.2 item 2), and the batch kernel bit for bit against
decompose_box."""

from __future__ import annotations

import numpy as np
import pytest

from zcurve_spark.functions.curvekey import zkey2, zkey3
from zcurve_spark.plans.decompose import (
    BUCKET_ROWS_PER_INTERVAL,
    Interval,
    bucket_shift_for,
    coalesce_intervals,
    covering_tiles,
    decompose_box,
    decompose_boxes,
    decode_point,
    explode_buckets,
    encode_point,
    hilbert3_covers,
    hilbert_covers,
    pick_cover_level,
)

BITS = 8  # small domain so brute force is a full 256x256 grid


@pytest.fixture(scope="module")
def grid():
    g = np.arange(256, dtype=np.uint64)
    X, Y = np.meshgrid(g, g)
    X, Y = X.ravel(), Y.ravel()
    return X, Y, zkey2(X, Y)


def _membership(ivs, K):
    cand = np.zeros(K.shape, dtype=bool)
    solid = np.zeros(K.shape, dtype=bool)
    for iv in ivs:
        m = (K >= iv.lo) & (K <= iv.hi)
        cand |= m
        if iv.solid:
            solid |= m
    return cand, solid


class TestDecompose2D:
    @pytest.mark.parametrize("budget", [1, 2, 4, 16, 64, 10**9])
    def test_exact_cover_every_budget(self, grid, budget):
        X, Y, K = grid
        rng = np.random.default_rng(7)
        for _ in range(60):
            x0, x1 = sorted(int(v) for v in rng.integers(0, 256, 2))
            y0, y1 = sorted(int(v) for v in rng.integers(0, 256, 2))
            ivs = decompose_box((x0, y0), (x1, y1), bits=BITS, budget=budget)
            inbox = (X >= x0) & (X <= x1) & (Y >= y0) & (Y <= y1)
            cand, solid = _membership(ivs, K)
            assert (cand & inbox == inbox).all(), "intervals must cover the box"
            assert (solid & ~inbox).sum() == 0, "solid intervals must be pure"

    def test_disjoint_sorted(self):
        ivs = decompose_box((3, 5), (200, 180), bits=BITS, budget=10**9)
        for a, b in zip(ivs, ivs[1:]):
            assert a.hi < b.lo

    def test_reference_solidity_bug_fixed(self, grid):
        """sp_query.c:106-156 misses the alignment check: box
        (69,151)-(76,172) yields a false-solid subquery containing
        (67,156).  Our span==volume criterion cannot produce it."""
        X, Y, K = grid
        ivs = decompose_box((69, 151), (76, 172), bits=BITS, budget=10**9)
        bad = int(zkey2(np.array([67], np.uint64), np.array([156], np.uint64))[0])
        for iv in ivs:
            assert not (iv.solid and iv.lo <= bad <= iv.hi)
        inbox = (X >= 69) & (X <= 76) & (Y >= 151) & (Y <= 172)
        _, solid = _membership(ivs, K)
        assert (solid & ~inbox).sum() == 0

    def test_aligned_box_single_solid_interval(self):
        """A power-of-two-aligned square is one solid interval — the tile
        identity (SURVEY.md §6 datum)."""
        ivs = decompose_box((0, 0), (1023, 1023), bits=30, budget=10**9)
        assert ivs == [Interval(0, 1048575, True)]

    def test_empty_box(self):
        assert decompose_box((10, 10), (5, 20), bits=BITS) == []

    def test_full_split_count_datum(self):
        """1001x1001 box: full split under exact solidity -> 1771 solid
        intervals (fewer than the reference's 4930: span==volume detects
        solidity earlier than the hypercube test)."""
        ivs = decompose_box((0, 0), (1000, 1000), bits=30, budget=10**9)
        assert len(ivs) == 1771 and all(iv.solid for iv in ivs)


class TestDecompose3D:
    def test_exact_cover_3d(self):
        bits = 5  # 32^3 grid brute force
        g = np.arange(32, dtype=np.uint64)
        X, Y, Z = np.meshgrid(g, g, g)
        X, Y, Z = X.ravel(), Y.ravel(), Z.ravel()
        K = zkey3(X, Y, Z)
        rng = np.random.default_rng(11)
        for budget in (1, 8, 10**9):
            for _ in range(20):
                x0, x1 = sorted(int(v) for v in rng.integers(0, 32, 2))
                y0, y1 = sorted(int(v) for v in rng.integers(0, 32, 2))
                z0, z1 = sorted(int(v) for v in rng.integers(0, 32, 2))
                ivs = decompose_box((x0, y0, z0), (x1, y1, z1), bits=bits, budget=budget)
                inbox = (
                    (X >= x0) & (X <= x1) & (Y >= y0) & (Y <= y1) & (Z >= z0) & (Z <= z1)
                )
                cand, solid = _membership(ivs, K)
                assert (cand & inbox == inbox).all()
                assert (solid & ~inbox).sum() == 0


def _random_boxes(rng, n, ndims, bits):
    """`n` boxes: half with random corners, half with sides below
    2^(bits/2) (clipped to the domain)."""
    a = rng.integers(0, 1 << bits, (n, ndims))
    b = rng.integers(0, 1 << bits, (n, ndims))
    b[: n // 2] = np.minimum(a[: n // 2] + rng.integers(0, 1 << bits // 2, (n // 2, ndims)), (1 << bits) - 1)
    return np.minimum(a, b), np.maximum(a, b)


def _assert_like_decompose_box(mins, maxs, bits, budget):
    """decompose_boxes gives, box by box, decompose_box's (lo, hi, solid)
    in its order, grouped by ascending box index."""
    box, lo, hi, solid = decompose_boxes(mins, maxs, bits, budget)
    assert (np.diff(box) >= 0).all()
    for i in range(len(mins)):
        want = decompose_box(tuple(mins[i].tolist()), tuple(maxs[i].tolist()), bits=bits, budget=budget)
        sel = box == i
        got = list(zip(lo[sel].tolist(), hi[sel].tolist(), solid[sel].tolist()))
        assert got == [(iv.lo, iv.hi, iv.solid) for iv in want], (i, budget)


class TestDecomposeBoxes:
    """The batch kernel against its scalar oracle, decompose_box."""

    @pytest.mark.parametrize("budget", [1, 2, 16, 32, 128])
    @pytest.mark.parametrize("ndims,bits", [(2, 20), (2, 30), (3, 5), (3, 21)])
    def test_bit_identical_to_decompose_box(self, ndims, bits, budget):
        rng = np.random.default_rng([ndims, bits, budget])
        _assert_like_decompose_box(*_random_boxes(rng, 60, ndims, bits), bits, budget)

    @pytest.mark.parametrize("ndims,bits", [(2, 20), (2, 31), (3, 21)])
    def test_domain_edges_points_and_lines(self, ndims, bits):
        top = (1 << bits) - 1
        corners = [
            ((0,) * ndims, (top,) * ndims),  # the whole domain
            ((top,) * ndims, (top,) * ndims),  # point at the top corner
            ((0,) * ndims, (0,) * ndims),  # point at the origin
            ((5,) * ndims, (5,) * ndims),
            ((0,) + (7,) * (ndims - 1), (top,) + (7,) * (ndims - 1)),  # line, edge to edge
            ((3,) * ndims, (top,) * ndims),
            ((0,) * ndims, (top - 1,) * ndims),
        ]
        mins = np.array([c[0] for c in corners])
        maxs = np.array([c[1] for c in corners])
        for budget in (1, 2, 16, 128):
            _assert_like_decompose_box(mins, maxs, bits, budget)

    def test_inverted_boxes_give_no_intervals(self):
        mins = np.array([[5, 5], [0, 0], [9, 1]])
        maxs = np.array([[4, 9], [30, 3], [9, 0]])
        box, lo, _, _ = decompose_boxes(mins, maxs, BITS, 16)
        assert set(box.tolist()) == {1}
        _assert_like_decompose_box(mins, maxs, BITS, 16)

    def test_empty_batch(self):
        out = decompose_boxes(np.zeros((0, 3), np.int64), np.zeros((0, 3), np.int64), 20, 16)
        assert [a.size for a in out] == [0, 0, 0, 0]
        assert [a.dtype for a in out] == [np.int64, np.int64, np.int64, bool]

    def test_box_outside_domain_names_qid_and_corners(self):
        mins = np.array([[1, 1], [0, 0], [-1, 4]])
        maxs = np.array([[2, 2], [256, 3], [4, 4]])
        with pytest.raises(ValueError, match=r"qid 77 \(\(0, 0\), \(256, 3\)\) lies outside \[0, 2\^8\)"):
            decompose_boxes(mins, maxs, BITS, 16, qids=np.array([76, 77, 78]))
        with pytest.raises(ValueError, match=r"box 0 \(\(-1, 4\), \(4, 4\)\)"):
            decompose_boxes(mins[2:], maxs[2:], BITS, 16)

    def test_single_box_outside_domain_names_its_corners(self):
        """decompose_box and the Hilbert covers word the error as
        decompose_boxes does."""
        with pytest.raises(ValueError, match=r"^box \(\(-5, -5\), \(10, 10\)\) lies outside \[0, 2\^8\)$"):
            decompose_box((-5, -5), (10, 10), bits=BITS)
        with pytest.raises(ValueError, match=r"^box \(\(3, 0\), \(256, 9\)\) lies outside \[0, 2\^8\)$"):
            hilbert_covers((3, 0), (256, 9), order=BITS)
        with pytest.raises(ValueError, match=r"^box \(\(0, -1, 0\), \(9, 9, 9\)\) lies outside \[0, 2\^8\)$"):
            hilbert3_covers((0, -1, 0), (9, 9, 9), order=BITS)

    def test_keys_wider_than_63_bits_raise_naming_bits(self):
        for ndims, bits in ((2, 32), (3, 22)):
            with pytest.raises(ValueError, match=f"bits={bits}"):
                decompose_boxes(np.zeros((1, ndims)), np.ones((1, ndims)), bits, 16)


class TestBuckets:
    def test_explode_matches_range_expansion(self):
        _, lo, hi, _ = decompose_boxes(*_random_boxes(np.random.default_rng(5), 20, 2, BITS), BITS, 16)
        for shift in (4, 7, 12, 16):
            row, bucket = explode_buckets(lo, hi, shift)
            want = [
                (i, b)
                for i, (a, z) in enumerate(zip(lo.tolist(), hi.tolist()))
                for b in range(a >> shift, (z >> shift) + 1)
            ]
            assert list(zip(row.tolist(), bucket.tolist())) == want

    def test_bucket_shift_is_the_finest_within_the_replication_bound(self):
        _, lo, hi, _ = decompose_boxes(*_random_boxes(np.random.default_rng(6), 40, 2, 20), 20, 16)

        def rows(s):
            return sum((z >> s) - (a >> s) + 1 for a, z in zip(lo.tolist(), hi.tolist()))

        s = bucket_shift_for(lo, hi, 40)
        assert rows(s) <= BUCKET_ROWS_PER_INTERVAL * len(lo) < rows(s - 1)
        assert bucket_shift_for([], [], 40) == 1


class TestCoalesce:
    def test_coalesce_preserves_cover(self, grid):
        X, Y, K = grid
        ivs = decompose_box((3, 5), (201, 177), bits=BITS, budget=10**9)
        for m in (1, 2, 8):
            co = coalesce_intervals(ivs, max_intervals=m)
            assert len(co) <= m
            cand_full, _ = _membership(ivs, K)
            cand_co, solid_co = _membership(co, K)
            assert (cand_co & cand_full == cand_full).all(), "coalesce must not drop keys"
            inbox = (X >= 3) & (X <= 201) & (Y >= 5) & (Y <= 177)
            assert (solid_co & ~inbox).sum() == 0


class TestTiles:
    def test_covering_tiles_exact(self):
        bits, level = 8, 4
        tiles = covering_tiles((10, 20), (100, 90), level, bits=bits)
        shift = bits - level
        expect = set()
        for x in range(10, 101):
            for y in range(21, 90):
                expect.add(encode_point((x >> shift, y >> shift), level))
        assert expect <= set(tiles)
        # no tile entirely outside the box
        for t in tiles:
            tx, ty = decode_point(t, 2, level)
            assert tx << shift <= 100 and (tx + 1 << shift) - 1 >= 10
            assert ty << shift <= 90 and (ty + 1 << shift) - 1 >= 20

    def test_pick_cover_level_bound(self):
        level = pick_cover_level((0, 0), (999, 999), bits=20, max_tiles=64)
        shift = 20 - level
        n = ((999 >> shift) + 1) ** 2
        assert n <= 64
        # finest: one level finer must exceed the bound
        shift2 = shift - 1
        n2 = ((999 >> shift2) + 1) ** 2
        assert n2 > 64


class TestHilbertCovers:
    """hilbert_covers vs brute force over the full grid at order 6:
    exact under refinement at EVERY budget; solid intervals contain only
    box keys; unlimited budget covers the box exactly with solid cells."""

    def test_exact_at_every_budget(self):
        import numpy as np

        from zcurve_spark.functions.curvekey import hilbert2, unhilbert2
        from zcurve_spark.plans.decompose import _unhilbert2_scalar, hilbert_covers

        order = 6
        n = 1 << order
        ds = np.arange(4**order, dtype=np.uint64)
        X, Y = unhilbert2(ds, order=order)
        for d in [0, 1, 7, 100, 4**order - 1]:
            assert _unhilbert2_scalar(d, order) == (int(X[d]), int(Y[d]))

        xs, ys = np.meshgrid(np.arange(n), np.arange(n))
        xs, ys = xs.ravel().astype(np.uint64), ys.ravel().astype(np.uint64)
        hk = hilbert2(xs, ys, order=order)
        rng = np.random.default_rng(7)
        for _ in range(25):
            x0, x1 = sorted(rng.integers(0, n, 2).tolist())
            y0, y1 = sorted(rng.integers(0, n, 2).tolist())
            in_box = (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
            expect = set(hk[in_box].tolist())
            for budget in (1, 4, 32, 10**9):
                ivs = hilbert_covers((x0, y0), (x1, y1), order=order, budget=budget)
                cand = np.zeros_like(in_box)
                for iv in ivs:
                    cand |= (hk >= iv.lo) & (hk <= iv.hi)
                assert set(hk[cand & in_box].tolist()) == expect
                for iv in ivs:
                    if iv.solid:
                        assert in_box[(hk >= iv.lo) & (hk <= iv.hi)].all()
            ivs = hilbert_covers((x0, y0), (x1, y1), order=order, budget=10**9)
            assert all(iv.solid for iv in ivs)
            assert sum(iv.hi - iv.lo + 1 for iv in ivs) == len(expect)


class TestHilbert3Covers:
    """hilbert3_covers vs brute force over the full cube at order 4:
    exact under refinement at EVERY budget; solid intervals contain only
    box keys."""

    def test_exact_at_every_budget(self):
        import numpy as np

        from zcurve_spark.functions.curvekey import hilbert3
        from zcurve_spark.plans.decompose import hilbert3_covers

        order = 4
        n = 1 << order
        g = np.arange(n, dtype=np.uint64)
        X, Y, Z = np.meshgrid(g, g, g, indexing="ij")
        xs, ys, zs = X.ravel(), Y.ravel(), Z.ravel()
        hk = hilbert3(xs, ys, zs, order=order)
        rng = np.random.default_rng(11)
        for _ in range(20):
            x0, x1 = sorted(rng.integers(0, n, 2).tolist())
            y0, y1 = sorted(rng.integers(0, n, 2).tolist())
            z0, z1 = sorted(rng.integers(0, n, 2).tolist())
            in_box = (
                (xs >= x0) & (xs <= x1) & (ys >= y0) & (ys <= y1)
                & (zs >= z0) & (zs <= z1)
            )
            expect = set(hk[in_box].tolist())
            for budget in (1, 4, 32, 10**9):
                ivs = hilbert3_covers((x0, y0, z0), (x1, y1, z1), order=order, budget=budget)
                cand = np.zeros_like(in_box)
                for iv in ivs:
                    cand |= (hk >= iv.lo) & (hk <= iv.hi)
                assert set(hk[cand & in_box].tolist()) == expect
                for iv in ivs:
                    if iv.solid:
                        assert in_box[(hk >= iv.lo) & (hk <= iv.hi)].all()

    def test_aligned_cube_is_one_solid_interval(self):
        from zcurve_spark.plans.decompose import hilbert3_covers

        ivs = hilbert3_covers((0, 0, 0), (7, 7, 7), order=5, budget=10**9)
        assert len(ivs) == 1 and ivs[0].solid
        assert ivs[0].hi - ivs[0].lo + 1 == 8**3
