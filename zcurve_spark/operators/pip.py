"""Point-in-polygon join: tile prefilter + exact integer ray-cast refine.

SURVEY.md §2.7 construction: a polygon's covering tile set at an
adaptively chosen level is the generalization of the box decomposition
(each tile = a solid curve interval).  Each polygon's tiles are
classified once, on the driver, in one numpy pass (the interior/boundary
cells of Raster Intervals): *interior* tiles accept every point they
hold, *boundary* tiles send theirs to the exact test, *outside* tiles
are dropped.  Candidates come from an equi-join on the tile id against
a broadcast cover relation built from pandas through Arrow (a local
relation), and the exact test is a JVM ray cast — two SQL ``aggregate``
lambdas over the tile's edges, no Python worker.  It is exact because
all arithmetic is int64 cross products (coords < 2^20, products <
2^42), no float rounding.

The whole plan is built from a few SQL strings: a Column built node by
node costs one Py4J round trip per node, and the per-tile Python
classifier made one per tile.

Boundary semantics: points on a polygon edge or vertex count as INSIDE
(matches the closed-box convention of the reference, bitkey.c:52-55, and
the convex-polygon half-plane oracle `cross >= 0`).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import _quoted, tile_id_col
from ..functions.curvekey import unzkey2
from ..plans.decompose import covering_tiles, pick_cover_level


def _pip_kernel(px: np.ndarray, py: np.ndarray, verts: np.ndarray) -> np.ndarray:
    """Exact inside-or-boundary test, vectorized over points.

    px, py: int64 point arrays; verts: (m, 2) int64 polygon ring (closed
    implicitly).  Returns boolean array.
    """
    n = len(px)
    inside = np.zeros(n, dtype=bool)
    on_edge = np.zeros(n, dtype=bool)
    m = len(verts)
    for j in range(m):
        x1, y1 = int(verts[j][0]), int(verts[j][1])
        x2, y2 = int(verts[(j + 1) % m][0]), int(verts[(j + 1) % m][1])
        # on-segment: collinear and within bbox
        cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
        within = (
            (px >= min(x1, x2)) & (px <= max(x1, x2))
            & (py >= min(y1, y2)) & (py <= max(y1, y2))
        )
        on_edge |= (cross == 0) & within
        # ray casting (strict crossings of the upward ray)
        cond = (y1 > py) != (y2 > py)
        if y2 != y1:
            # x < x1 + (x2-x1)*(py-y1)/(y2-y1), exact integer comparison
            lhs = (px - x1) * (y2 - y1)
            rhs = (x2 - x1) * (py - y1)
            if y2 > y1:
                crossed = cond & (lhs < rhs)
            else:
                crossed = cond & (lhs > rhs)
            inside ^= crossed
    return inside | on_edge


def pip_refine_sql(x: str, y: str, edges: str) -> str:
    """Exact inside-or-boundary test of the point (`x`, `y`) as one SQL
    predicate; `edges` is an array<struct<ex,ey,fx,fy>> column.

    Ray casting runs as a JVM higher-order aggregate over the polygon's
    edges (crossings of the upward ray, counted with `_pip_kernel`'s
    exact integer comparisons), OR an on-edge aggregate.  Integer cross
    products are exact (coords < 2^20)."""
    x, y, edges = _quoted(x), _quoted(y), _quoted(edges)
    lhs = f"({x} - e.ex) * (e.fy - e.ey)"
    rhs = f"(e.fx - e.ex) * ({y} - e.ey)"
    crossing = (
        f"(e.ey > {y}) <> (e.fy > {y}) "
        f"AND CASE WHEN e.fy > e.ey THEN {lhs} < {rhs} ELSE {lhs} > {rhs} END"
    )
    on_edge = (
        f"{lhs} = {rhs} "
        f"AND {x} BETWEEN least(e.ex, e.fx) AND greatest(e.ex, e.fx) "
        f"AND {y} BETWEEN least(e.ey, e.fy) AND greatest(e.ey, e.fy)"
    )
    return (
        f"(aggregate({edges}, 0, (n, e) -> n + CASE WHEN {crossing} THEN 1 ELSE 0 END) % 2 = 1 "
        f"OR aggregate({edges}, false, (hit, e) -> hit OR ({on_edge})))"
    )


def _orient(ax, ay, bx, by, cx, cy) -> np.ndarray:
    """Sign of the turn a -> b -> c (int64 cross product, exact)."""
    return np.sign((bx - ax) * (cy - ay) - (by - ay) * (cx - ax))


def classify_tiles(tiles, level: int, bits: int, verts) -> tuple[np.ndarray, np.ndarray]:
    """(boundary, interior) masks over the level-`level` tile ids `tiles`
    of the polygon `verts` ((m, 2) ring, closed implicitly).

    A tile is *boundary* when some edge touches its closed square: an
    endpoint lies in it, or the edge meets one of its four sides (closed
    segments; the orientation signs decide, and a bounding-box overlap
    settles collinear pairs).  No edge touches any other tile, so it lies
    wholly inside or wholly outside and its corner decides: *interior*
    tiles need no per-point work.  One numpy pass over tiles x edges x
    sides, then one `_pip_kernel` call on every tile's corner.  The
    per-point hot path only ever touches boundary tiles — work
    O(perimeter / tile size), not O(area) — the tile analog of the
    solid-interval fast path (sp_query.c:291-301)."""
    v = np.asarray(verts, np.int64)
    tx, ty = unzkey2(np.asarray(tiles, np.uint64))
    shift = bits - level
    x0 = (tx.astype(np.int64) << shift)[:, None, None]  # (tiles, 1, 1)
    y0 = (ty.astype(np.int64) << shift)[:, None, None]
    x1, y1 = x0 + (1 << shift) - 1, y0 + (1 << shift) - 1
    # edge j runs a -> b: (1, edges, 1)
    ax, ay = v[None, :, 0, None], v[None, :, 1, None]
    bx, by = np.roll(ax, -1, axis=1), np.roll(ay, -1, axis=1)
    # side s of the square runs c -> d, corners counter-clockwise: (tiles, 1, 4)
    cx, cy = np.concatenate([x0, x1, x1, x0], -1), np.concatenate([y0, y0, y1, y1], -1)
    dx, dy = np.roll(cx, -1, axis=-1), np.roll(cy, -1, axis=-1)
    meets = (
        (_orient(cx, cy, dx, dy, ax, ay) * _orient(cx, cy, dx, dy, bx, by) <= 0)
        & (_orient(ax, ay, bx, by, cx, cy) * _orient(ax, ay, bx, by, dx, dy) <= 0)
        & (np.maximum(ax, bx) >= np.minimum(cx, dx)) & (np.maximum(cx, dx) >= np.minimum(ax, bx))
        & (np.maximum(ay, by) >= np.minimum(cy, dy)) & (np.maximum(cy, dy) >= np.minimum(ay, by))
    )
    holds = ((x0 <= ax) & (ax <= x1) & (y0 <= ay) & (ay <= y1))[..., 0]  # endpoint a in the tile
    boundary = (meets.any(-1) | holds | np.roll(holds, -1, axis=1)).any(-1)
    interior = ~boundary & _pip_kernel(x0[:, 0, 0], y0[:, 0, 0], v)
    return boundary, interior


_COVER_SCHEMA = (
    "tile_id long, poly_id long, solid boolean, "
    "ex array<long>, ey array<long>, fx array<long>, fy array<long>"
)


def _cover_rows(p: dict, bits: int, max_tiles: int) -> tuple[int, pd.DataFrame]:
    """(cover level, cover rows) of polygon `p`: its kept tiles with the
    polygon's flat edge arrays on boundary rows and nulls on interior
    rows, whose points never read them."""
    v = np.asarray(p["vertices"], np.int64)
    mins, maxs = tuple(int(c) for c in v.min(0)), tuple(int(c) for c in v.max(0))
    level = pick_cover_level(mins, maxs, bits=bits, max_tiles=max_tiles)
    tiles = np.asarray(covering_tiles(mins, maxs, level, bits=bits, max_tiles=4 * max_tiles), np.int64)
    boundary, interior = classify_tiles(tiles, level, bits, v)
    keep = boundary | interior
    f = np.roll(v, -1, axis=0)
    edges = {"ex": v[:, 0].tolist(), "ey": v[:, 1].tolist(), "fx": f[:, 0].tolist(), "fy": f[:, 1].tolist()}
    return level, pd.DataFrame(
        {
            "tile_id": tiles[keep],
            "poly_id": np.int64(p["poly_id"]),
            "solid": interior[keep],
            **{c: [None if s else e for s in interior[keep]] for c, e in edges.items()},
        }
    )


def pip_join(
    points: DataFrame,
    polygons: list[dict],
    *,
    zkey_col: str = "zkey",
    bits: int = 20,
    max_tiles: int = 256,
) -> DataFrame:
    """Join each point to every polygon containing it.

    `polygons`: dicts {poly_id, vertices: [(x, y), ...]} (driver-side,
    broadcastable — the dimension-table side of the join; points side is
    arbitrarily large).  Returns points columns + poly_id; with no
    polygon, or none covering a tile, an empty relation that collects
    with no Spark job.

    Plan: per cover level, ONE broadcast equi-join of the points' tile
    at that level against the level's cover relation (tile_id, poly_id,
    solid, edges), then ONE filter: `solid` OR the exact ray cast.  The
    cover carries the edges array ONLY on boundary-tile rows (null for
    interior), so interior candidates — the bulk at scale — never
    materialize an edges array (the r3-measured GC trap of copying edges
    into every candidate row): the filter short-circuits on `solid`
    inside the same codegen stage, and the edges column is dropped
    before anything downstream.
    """
    covers: dict[int, list[pd.DataFrame]] = {}
    for p in polygons:
        level, rows = _cover_rows(p, bits, max_tiles)
        if len(rows):
            covers.setdefault(level, []).append(rows)
    if not covers:
        return points.limit(0).selectExpr("*", "CAST(NULL AS BIGINT) AS poly_id")
    spark = points.sparkSession
    keep = F.expr(f"solid OR {pip_refine_sql('x', 'y', 'edges')}")
    parts = []
    for level, frames in sorted(covers.items()):
        cover = spark.createDataFrame(pd.concat(frames, ignore_index=True), _COVER_SCHEMA).selectExpr(
            "tile_id", "poly_id", "solid", "arrays_zip(ex, ey, fx, fy) AS edges"
        )
        cand = points.withColumn("_tile", tile_id_col(zkey_col, level, bits=bits)).join(
            F.broadcast(cover), F.expr("_tile = tile_id")
        )
        parts.append(cand.filter(keep).drop("_tile", "tile_id", "solid", "edges"))
    return reduce(DataFrame.unionByName, parts)


def convex_polygon(poly_id: int, cx: int, cy: int, radius: int, n: int, *, seed: int = 0) -> dict:
    """Deterministic convex test polygon (integer vertices on a circle).

    Convex so the pytest/DuckDB oracle can verify with half-plane cross
    products while the engine runs the general ray-cast path.
    """
    import math

    verts = []
    for i in range(n):
        ang = 2 * math.pi * (i + (seed % 7) / 7.0) / n
        verts.append(
            (int(cx + radius * math.cos(ang)), int(cy + radius * math.sin(ang)))
        )
    return {"poly_id": poly_id, "vertices": verts}
