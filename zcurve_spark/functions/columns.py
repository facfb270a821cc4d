"""Pure-Column (JVM-side) curve-key expressions — the hot path.

The 2D Morton interleave is expressible entirely with built-in SQL
functions, so encoding a zkey for 10^12 rows never leaves whole-stage
codegen: no Python, no Arrow transfer, vectorized Parquet in, codegen'd
expressions through.  These mirror the numpy kernels in ``curvekey.py``
bit-for-bit (property-tested against each other), which in turn mirror
the reference layout (bitkey.c:76-97: x on even bits, y on odd bits;
bitkey.c:386-417 for the 3D triples).

Each key is written as ONE SQL string and parsed by one ``F.expr``: a
Column built node by node costs one Py4J round trip per node, and
``F.lit(list)`` one per element (``zkey2_col`` built that way made
~2,700 round trips, 0.4–1.0 s of driver time per call).  The key builders
therefore take column NAMES.

Use these in every DataFrame plan; the pandas UDFs in ``udfs.py`` exist
only for ops a Column expression can't reach (Hilbert rotation state
machine).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _quoted(name: str) -> str:
    """A column name as a back-quoted SQL identifier (a Column has no SQL
    text to splice, so the string builders refuse one)."""
    if not isinstance(name, str):
        raise TypeError(f"expected a column name, got {type(name).__name__}")
    return "`" + name.replace("`", "``") + "`"


# Byte lookup tables (the reference's nibble-LUT idea, bitkey.c:23-25,
# widened to bytes): spread of each byte value precomputed as a literal
# array.  Expressions stay FLAT — a shift-or chain duplicates its input
# subtree at every step, and when Catalyst inlines such a column into a
# join key / isnotnull filter the copied tree grows 2^steps and falls out
# of efficient codegen (measured: 20s vs 4s on a 32M-row broadcast join
# probe).
def _spread_byte(b: int, stride: int) -> int:
    v = 0
    for i in range(8):
        v |= ((b >> i) & 1) << (stride * i)
    return v


def _compact2_byte(b: int) -> int:
    """Gather even bits of a byte -> 4-bit value."""
    v = 0
    for i in range(4):
        v |= ((b >> (2 * i)) & 1) << i
    return v


def _array_sql(values) -> str:
    return "array(" + ", ".join(map(str, values)) + ")"


_LUT2 = _array_sql(_spread_byte(b, 2) for b in range(256))
_LUT3 = _array_sql(_spread_byte(b, 3) for b in range(256))
_LUT2_INV = _array_sql(_compact2_byte(b) for b in range(256))


def _lut_sql(v: str, lut: str, nbytes: int, width: int) -> str:
    """OR of `nbytes` byte lookups on the long expression `v`: byte k
    indexes the literal array `lut` and its entry lands at bit width*k."""
    out = None
    for k in range(nbytes):
        part = f"CAST(element_at({lut}, CAST(((shiftrightunsigned({v}, {8 * k}) & 255) + 1) AS INT)) AS BIGINT)"
        term = f"shiftleft({part}, {width * k})" if k else part
        out = term if out is None else f"({out} | {term})"
    return out


def _spread2_sql(name: str) -> str:
    return _lut_sql(f"CAST({_quoted(name)} AS BIGINT)", _LUT2, 4, 16)


def _spread3_sql(name: str) -> str:
    return _lut_sql(f"(CAST({_quoted(name)} AS BIGINT) & 2097151)", _LUT3, 3, 24)


def _compact2_sql(v: str) -> str:
    """Even bits of the SQL expression `v` (cast to long), gathered."""
    return _lut_sql(f"CAST({v} AS BIGINT)", _LUT2_INV, 8, 4)


def spread2_col(v: str) -> Column:
    """Bit-spread a <2^32 integer column: bit i -> bit 2i (JVM-side).

    Four byte-LUT lookups on a literal array — each input reference is a
    leaf, so the expression tree is linear however Catalyst inlines it.
    """
    return F.expr(_spread2_sql(v))


def zkey2_col(x: str, y: str) -> Column:
    """2D Morton key Column; layout of bitkey.c:76-97 (x even, y odd bits).

    Inputs must be non-negative and < 2^31 per dim; output < 2^62, a
    sort-safe non-negative LongType.
    """
    return F.expr(f"({_spread2_sql(x)} | shiftleft({_spread2_sql(y)}, 1)) AS zkey")


def compact2_col(v: str) -> Column:
    """Inverse spread: gather even bits of a long column (decode helper).
    Eight byte-LUT lookups — flat tree, same rationale as spread2_col."""
    return F.expr(_compact2_sql(_quoted(v)))


def unzkey2_x_col(k: str) -> Column:
    return compact2_col(k)


def unzkey2_y_col(k: str) -> Column:
    return F.expr(_compact2_sql(f"shiftrightunsigned(CAST({_quoted(k)} AS BIGINT), 1)"))


def spread3_col(v: str) -> Column:
    """Bit-spread a <2^21 integer column: bit i -> bit 3i (JVM-side).
    Three byte-LUT lookups — flat tree, same rationale as spread2_col."""
    return F.expr(_spread3_sql(v))


def zkey3_col(x: str, y: str, z: str) -> Column:
    """3D Morton key Column for coords < 2^21 (63-bit key; bitkey.c:386-417
    layout: bit 3i=z, 3i+1=y, 3i+2=x)."""
    return F.expr(
        f"((shiftleft({_spread3_sql(x)}, 2) | shiftleft({_spread3_sql(y)}, 1)) | {_spread3_sql(z)}) AS zkey3"
    )


def tile_id_col(zkey, level: int, bits: int = 30) -> Column:
    """H3/S2-style cell id = Z-key prefix at `level` (2*level bits kept).

    A tile is exactly a *solid* curve interval (SURVEY.md §2.7): all keys
    with this prefix lie in the tile's square.  Pure prefix arithmetic —
    no recompute from coords.
    """
    if not 0 <= level <= bits:
        raise ValueError(f"level must be in [0, {bits}]")
    return F.shiftrightunsigned(_as_col(zkey).cast("long"), 2 * (bits - level))


def tile_bounds(tile: int, level: int, bits: int = 30) -> tuple[int, int]:
    """[lo, hi] zkey interval covered by a tile id (driver-side ints)."""
    shift = 2 * (bits - level)
    lo = tile << shift
    return lo, lo | ((1 << shift) - 1)


def quantize_lon_col(lon, bits: int = 30) -> Column:
    """Map lon [-180,180) to [0, 2^bits) — matches curvekey.quantize_lon."""
    n = float(1 << bits)
    q = F.floor((_as_col(lon) + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    return F.least(F.greatest(q, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")


def quantize_lat_col(lat, bits: int = 30) -> Column:
    n = float(1 << bits)
    q = F.floor((_as_col(lat) + F.lit(90.0)) / F.lit(180.0) * F.lit(n))
    return F.least(F.greatest(q, F.lit(0)), F.lit((1 << bits) - 1)).cast("long")
