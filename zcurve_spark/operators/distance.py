"""Large-large spatial joins: distance (within-radius) pair join.

The reference's spatial "join" is the user calling the lookup SRF per
box — one side is always tiny.  At 100 TB BOTH sides of a spatial join
can be huge (neither broadcastable), so this module adds the classic
grid-bucketed distance join (SURVEY.md §2.6 "Joins" target row):

* pick a tile size 2^s >= radius, so any pair within `radius` lands in
  the same tile or an 8-neighbor tile;
* side A keys each point by its own tile (1 row); side B explodes each
  point to its tile + 8 neighbors (9 rows — the bounded duplication
  that turns an O(n*m) theta join into an EQUI-join on tile id);
* shuffle hash/sort-merge equi-join on the tile key (both sides
  shuffle-partitioned by tile — the scalable shape; AQE splits hot
  tiles), then exact integer distance refinement.

Every pair within the radius appears exactly once: the 3x3 neighborhood
of B's true tile covers every tile A's point can be in (Chebyshev
distance <= radius < 2^s), and each pair is produced only at A's tile.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

EARTH_R_M = 6371000.0  # mean sphere radius used by the haversine forms

# degree->radian factor as an explicit double literal: java's
# Math.toRadians computes x/180*pi while DuckDB's RADIANS computes
# x*(pi/180) — DIFFERENT rounding, so oracle-checkable expressions
# multiply by this shared constant instead of calling radians()
DEG2RAD = math.pi / 180.0


def distance_join(
    a: DataFrame,
    b: DataFrame,
    radius: int,
    *,
    coord_cols: tuple[str, str] = ("x", "y"),
    id_col: str = "pid",
    dedup_pairs: bool = False,
) -> DataFrame:
    """All pairs (a_id, b_id, d2) with squared Euclidean distance
    d2 <= radius^2 between rows of `a` and rows of `b`.

    Both sides may be arbitrarily large: the only shuffle is the tile
    equi-join (B side is duplicated 9x — constant factor, independent
    of data size).  All-integer arithmetic (explicit long multiply, not
    float pow — exact for the full 32-bit coordinate domain) so results
    are oracle-checkable bit-for-bit.  Coordinates may be negative:
    tiling uses arithmetic right shift == floor division by 2^s, which
    buckets negatives consistently.  For a self-join pass the same
    DataFrame twice and ``dedup_pairs=True`` to keep a_id < b_id only.
    """
    if radius <= 0:
        raise ValueError("radius must be positive")
    s = max(1, int(radius).bit_length())  # 2^s >= radius (tile side)
    xc, yc = coord_cols

    def tile(c):
        # floor(c / 2^s) via arithmetic shift on a long: correct for
        # negative coordinates too (shiftrightunsigned would scatter
        # them to huge tile ids and silently drop cross-sign pairs).
        return F.shiftright(F.col(c).cast("long"), s)

    ta = a.select(
        F.col(id_col).alias("a_id"),
        F.col(xc).alias("ax"),
        F.col(yc).alias("ay"),
        tile(xc).alias("_tx"),
        tile(yc).alias("_ty"),
    )
    # B explodes to its 3x3 tile neighborhood.
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    tb = (
        b.select(
            F.col(id_col).alias("b_id"),
            F.col(xc).alias("bx"),
            F.col(yc).alias("by"),
            F.explode(offs).alias("_o"),
        )
        .select(
            "b_id",
            "bx",
            "by",
            (F.shiftright(F.col("bx").cast("long"), s) + F.col("_o.dx")).alias("_tx"),
            (F.shiftright(F.col("by").cast("long"), s) + F.col("_o.dy")).alias("_ty"),
        )
    )
    j = ta.join(tb, ["_tx", "_ty"])
    dx = F.col("ax").cast("long") - F.col("bx").cast("long")
    dy = F.col("ay").cast("long") - F.col("by").cast("long")
    d2 = dx * dx + dy * dy  # exact integer arithmetic (no float pow)
    out = (
        j.withColumn("d2", d2)
        .filter(F.col("d2") <= int(radius) * int(radius))
        .select("a_id", "b_id", "d2")
    )
    if dedup_pairs:
        out = out.filter(F.col("a_id") < F.col("b_id"))
    return out


def _geo_n_lon(nb, dlat_deg: float, half_sin: float):
    """Column: number of longitude tiles in latitude band `nb` (long
    Column), derived from the worst-case (largest-|lat|) latitude of the
    THREE-band span [nb-1, nb+1] — so the per-band lon-tile width is >=
    the largest |delta-lon| any within-radius pair with one endpoint in
    band nb can have (see distance_join_geo's coverage proof)."""
    span_lo = (nb.cast("double") - 1.0) * dlat_deg - 90.0
    span_hi = (nb.cast("double") + 2.0) * dlat_deg - 90.0
    maxabs = F.least(F.lit(90.0), F.greatest(F.abs(span_lo), F.abs(span_hi)))
    cos_lo = F.cos(maxabs * F.lit(DEG2RAD))
    # ratio >= 1 <=> the delta-lon bound is unbounded at this latitude
    # (the whole ring is within radius in the worst case): 1 tile.
    ratio = F.least(F.lit(1.0), F.lit(half_sin) / F.greatest(cos_lo, F.lit(1e-300)))
    width_deg = F.lit(2.0) * F.asin(ratio) / F.lit(DEG2RAD)  # (0, 180]
    return F.when(ratio >= 1.0, F.lit(1).cast("long")).otherwise(
        F.greatest(
            F.lit(1).cast("long"), F.floor(F.lit(360.0) / width_deg).cast("long")
        )
    )


def distance_join_geo(
    a: DataFrame,
    b: DataFrame,
    radius_m: float,
    *,
    lon_col: str = "lon",
    lat_col: str = "lat",
    id_col: str = "pid",
    dedup_pairs: bool = False,
    sphere_radius_m: float = EARTH_R_M,
) -> DataFrame:
    """All pairs within haversine distance `radius_m` meters — the
    GEODETIC twin of :func:`distance_join` (r4 VERDICT #5: the planar
    integer join is exact in tile space, but a user with real lon/lat
    asking "pairs within 500 m" hits curvature error at high latitude).

    Lat-banded tiling with a LATITUDE-AWARE lon-tile width:

    * bands of height dlat = radius/R (radians): haversine distance >=
      R*|dphi|, so a within-radius pair spans at most adjacent bands;
    * per band, lon tiles of width >= the band's worst-case delta-lon
      bound 2*asin(sin(r/2R)/cos_lo) (from the haversine identity
      cos(p1)cos(p2)sin^2(dl/2) <= sin^2(d/2R), with cos_lo = the
      smallest cos|lat| over the band's 3-band span — which contains
      BOTH endpoints of any candidate pair), so a pair spans at most
      adjacent lon tiles *in either endpoint's band grid*;
    * side A keys each point once by (band, lon_tile); side B explodes
      to its <= 3x3 (band, tile) neighborhood — computed per NEIGHBOR
      band's own tile width, with tile indices wrapped modulo the
      band's tile count, so ANTIMERIDIAN pairs land in the same bucket
      (the wrap is the mod, not a special case);
    * exact haversine refinement on the candidates.

    Duplicate (band, tile) keys from the wrap near the poles (a band
    with 1-3 tiles) are removed with array_distinct before the explode,
    so every within-radius pair appears EXACTLY once.

    100-TB notes: both sides shuffle only on the (band, tile) equi-join
    key, nothing is broadcast, and the B-side duplication is a <= 9x
    constant.  Polar bands have few tiles and become hot keys under
    polar-dense data — AQE skew-join splits them (same property as the
    planar join's hot tiles).

    The refinement compares the haversine HAV value against
    sin^2(r/2R) with the degree->radian conversion done by explicit
    multiplication with a shared double literal, so the same expression
    is reproducible in ANSI SQL for the oracle gate (engines disagree
    on radians()'s rounding, not on IEEE multiply).  Output
    (a_id, b_id, hav double); callers needing meters apply
    2*R*asin(sqrt(hav)).
    """
    if radius_m <= 0:
        raise ValueError("radius_m must be positive")
    R = float(sphere_radius_m)
    dlat_deg = float(radius_m) / R / DEG2RAD  # band height == the |dphi| bound
    n_bands = max(1, math.ceil(180.0 / dlat_deg))
    half_sin = math.sin(float(radius_m) / (2.0 * R))
    hav_thr = half_sin * half_sin

    def band(lat):
        raw = F.floor((lat + F.lit(90.0)) / F.lit(dlat_deg)).cast("long")
        return F.least(F.lit(n_bands - 1).cast("long"), F.greatest(F.lit(0).cast("long"), raw))

    def lon_pos(lon, nlon):
        return F.floor((lon + F.lit(180.0)) * nlon.cast("double") / F.lit(360.0)).cast("long")

    # STAGED projections for the band/tile keys (r6, guide §4/§7.2 "read
    # the plan"): inlining `_geo_n_lon` (a ~20-node asin/cos tree that
    # itself nests the band expression) at every use put ~12 copies of
    # the tree into the B-side Generate projection and 2 more into the
    # A-side keys — the whole-stage-codegen method for the probe stage
    # grew huge, burning 3-4x the CPU (and intermittently missing the
    # C2 JIT entirely: the measured bimodal 4.5s-vs-17s knn_geo_2k mode
    # previously blamed on host steal).  Materializing each band's nlon
    # as a NAMED COLUMN evaluates the tree once per row per band:
    # Catalyst's CollapseProject keeps multi-referenced non-cheap
    # aliases as separate projections, so the codegen method stays
    # small.  Same arithmetic, same keys, bit-identical output.
    ba = band(F.col(lat_col))
    ta = (
        a.select(
            F.col(id_col).alias("a_id"),
            F.col(lon_col).alias("a_lon"),
            F.col(lat_col).alias("a_lat"),
            ba.alias("_gb"),
        )
        .withColumn("_nl", _geo_n_lon(F.col("_gb"), dlat_deg, half_sin))
        .select(
            "a_id",
            "a_lon",
            "a_lat",
            "_gb",
            F.pmod(lon_pos(F.col("a_lon"), F.col("_nl")), F.col("_nl")).alias("_gt"),
        )
    )

    tbase = b.select(
        F.col(id_col).alias("b_id"),
        F.col(lon_col).alias("b_lon"),
        F.col(lat_col).alias("b_lat"),
        band(F.col(lat_col)).alias("_b"),
    )
    for off in (-1, 0, 1):
        tbase = tbase.withColumn(
            f"_nl{off}",
            _geo_n_lon(F.col("_b") + F.lit(off).cast("long"), dlat_deg, half_sin),
        ).withColumn(
            f"_ct{off}", lon_pos(F.col("b_lon"), F.col(f"_nl{off}"))
        )
    entries = []
    for off in (-1, 0, 1):
        nb = F.col("_b") + F.lit(off).cast("long")
        valid = (nb >= 0) & (nb < n_bands)
        for dlt in (-1, 0, 1):
            entries.append(
                F.when(
                    valid,
                    F.struct(
                        nb.alias("gb"),
                        F.pmod(
                            F.col(f"_ct{off}") + F.lit(dlt).cast("long"),
                            F.col(f"_nl{off}"),
                        ).alias("gt"),
                    ),
                )
            )
    tiles_arr = F.array_distinct(
        F.filter(F.array(*entries), lambda e: e.isNotNull())
    )
    tb = (
        tbase.select(
            "b_id",
            "b_lon",
            "b_lat",
            F.explode(tiles_arr).alias("_g"),
        )
        .select("b_id", "b_lon", "b_lat", F.col("_g.gb").alias("_gb"), F.col("_g.gt").alias("_gt"))
    )

    j = ta.join(tb, ["_gb", "_gt"])
    sdphi = F.sin((F.col("a_lat") - F.col("b_lat")) * F.lit(DEG2RAD) / F.lit(2.0))
    sdlmb = F.sin((F.col("a_lon") - F.col("b_lon")) * F.lit(DEG2RAD) / F.lit(2.0))
    hav = (
        sdphi * sdphi
        + F.cos(F.col("a_lat") * F.lit(DEG2RAD))
        * F.cos(F.col("b_lat") * F.lit(DEG2RAD))
        * sdlmb * sdlmb
    )
    out = (
        j.withColumn("hav", hav)
        .filter(F.col("hav") <= F.lit(hav_thr))
        .select("a_id", "b_id", "hav")
    )
    if dedup_pairs:
        out = out.filter(F.col("a_id") < F.col("b_id"))
    return out
