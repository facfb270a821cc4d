"""Seeded inputs and brute-force numpy oracles.

Everything the engine sees is made here from one ``numpy.random.Generator``:
points written to parquet, box / query / polygon lists.  The oracles answer
the same questions without Z-order keys, interval decomposition or Spark,
so a wrong answer from the engine cannot be hidden by a shared bug.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOMAIN = 1_000_000  # coordinates in [0, DOMAIN), as the engine's knn assumes
BITS = 20  # DOMAIN < 2**BITS
BOX_SIDES = (100, 1_000, 10_000)  # gentest.awk box sizes


def uniform_points(rng: np.random.Generator, n: int, pid0: int = 0) -> dict:
    """``n`` uniform integer points with a unique ``pid`` and a value ``v``."""
    return {
        "pid": np.arange(pid0, pid0 + n, dtype=np.int64),
        "x": rng.integers(0, DOMAIN, n, dtype=np.int64),
        "y": rng.integers(0, DOMAIN, n, dtype=np.int64),
        "v": rng.integers(0, 1_000, n, dtype=np.int64),
    }


def write_points(path: str, pts: dict) -> None:
    pq.write_table(pa.table(pts), path)


def random_boxes(rng: np.random.Generator, n: int) -> dict:
    """Closed boxes at random positions; sides cycle through
    :data:`BOX_SIDES` by qid, so every batch (and the engine's 64-lowest-qid
    sample for its bucket width) has the same mix of sizes."""
    side = np.resize(np.asarray(BOX_SIDES, dtype=np.int64), n)
    x0 = rng.integers(0, DOMAIN - side, dtype=np.int64)
    y0 = rng.integers(0, DOMAIN - side, dtype=np.int64)
    return {"qid": np.arange(n, dtype=np.int64), "x0": x0, "y0": y0, "x1": x0 + side, "y1": y0 + side}


def random_queries(rng: np.random.Generator, n: int, k: int) -> dict:
    return {
        "qid": np.arange(n, dtype=np.int64),
        "qx": rng.integers(0, DOMAIN, n, dtype=np.int64),
        "qy": rng.integers(0, DOMAIN, n, dtype=np.int64),
        "k": np.full(n, k, dtype=np.int32),
    }


def convex_polygons(rng: np.random.Generator, n: int, m: int = 8, r: int = 100_000) -> list[dict]:
    """Counter-clockwise convex ``m``-gons with integer vertices on a circle
    of radius ``r`` (evenly spaced angles plus jitter, so rounding keeps them
    convex).  Centre and rotation are random; size is fixed so every
    pip_join does comparable work."""
    out = []
    for pid in range(n):
        cx, cy = (int(c) for c in rng.integers(r + 1, DOMAIN - r - 1, 2))
        ang = (np.arange(m) + rng.uniform(-0.25, 0.25, m)) * (2 * np.pi / m)
        verts = [(int(cx + r * np.cos(a)), int(cy + r * np.sin(a))) for a in ang]
        out.append({"poly_id": pid, "vertices": verts})
    return out


def morton_cells(x: np.ndarray, y: np.ndarray, level: int, bits: int = BITS) -> np.ndarray:
    """Cell id at ``level``: the (x, y) cell coordinates bit-interleaved,
    x on even bits.  A plain per-bit loop, independent of the engine's
    spread kernels."""
    cx = x >> (bits - level)
    cy = y >> (bits - level)
    out = np.zeros(len(x), dtype=np.int64)
    for i in range(level):
        out |= ((cx >> i) & 1) << (2 * i)
        out |= ((cy >> i) & 1) << (2 * i + 1)
    return out


class PointOracle:
    """Brute-force answers over an x-sorted copy of the points."""

    def __init__(self, pts: dict):
        order = np.argsort(pts["x"], kind="stable")
        self.pid, self.x, self.y = (pts[c][order] for c in ("pid", "x", "y"))

    @property
    def n(self) -> int:
        return len(self.x)

    def _strip(self, lo: int, hi: int) -> slice:
        return slice(np.searchsorted(self.x, lo, "left"), np.searchsorted(self.x, hi, "right"))

    def box(self, x0: int, y0: int, x1: int, y1: int) -> tuple[int, int]:
        """(hit count, pid sum) of the closed box."""
        s = self._strip(x0, x1)
        ys = self.y[s]
        m = (ys >= y0) & (ys <= y1)
        return int(m.sum()), int(self.pid[s][m].sum())

    def box_counts(self, boxes: dict) -> np.ndarray:
        return np.array(
            [
                self.box(*(int(boxes[c][i]) for c in ("x0", "y0", "x1", "y1")))[0]
                for i in range(len(boxes["qid"]))
            ],
            dtype=np.int64,
        )

    def knn_d2(self, qx: int, qy: int, k: int) -> list[int]:
        """Sorted squared distances of the ``k`` nearest points: grow an
        x-strip until it holds ``k`` points within the strip half-width."""
        r = max(64, int(np.sqrt(k * DOMAIN * DOMAIN / (np.pi * max(self.n, 1))) * 2))
        while True:
            s = self._strip(qx - r, qx + r)
            d2 = (self.x[s] - qx) ** 2 + (self.y[s] - qy) ** 2
            close = d2[d2 <= r * r]
            if len(close) >= k or r > 2 * DOMAIN:
                return sorted(int(v) for v in np.sort(close)[:k])
            r *= 2

    def polygon_count(self, verts: list[tuple[int, int]]) -> int:
        """Points inside or on a CCW convex polygon (half-plane test)."""
        xs = [v[0] for v in verts]
        s = self._strip(min(xs), max(xs))
        px, py = self.x[s], self.y[s]
        inside = np.ones(len(px), dtype=bool)
        for j, (ax, ay) in enumerate(verts):
            bx, by = verts[(j + 1) % len(verts)]
            inside &= (bx - ax) * (py - ay) - (by - ay) * (px - ax) >= 0
        return int(inside.sum())


def pyramid_checksums(x: np.ndarray, y: np.ndarray, v: np.ndarray, levels) -> dict:
    """Per level: (tiles, sum n, sum tile_id*n, sum n^2, sum v, sum tile_id*v,
    sum of per-tile min v, sum of per-tile max v).  The benchmark asks Spark
    for the same sums over ``tile_pyramid``'s output."""
    out = {}
    for level in levels:
        tid = morton_cells(x, y, level)
        order = np.argsort(tid, kind="stable")
        ts, vs = tid[order], v[order]
        starts = np.flatnonzero(np.r_[True, ts[1:] != ts[:-1]])
        ids = ts[starts]
        n = np.diff(np.r_[starts, len(ts)])
        out[int(level)] = (
            len(ids),
            int(n.sum()),
            int((ids * n).sum()),
            int((n * n).sum()),
            int(vs.sum()),
            int((ids * np.add.reduceat(vs, starts)).sum()),
            int(np.minimum.reduceat(vs, starts).sum()),
            int(np.maximum.reduceat(vs, starts).sum()),
        )
    return out
