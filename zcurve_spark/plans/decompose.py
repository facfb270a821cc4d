"""Box -> curve-interval decomposition (Tropf–Herzog LITMAX/BIGMIN).

Driver-side re-expression of the reference's lazy splitting loop
(sp_query.c:308-398): a closed query box maps to the key interval between
its corner keys; the interval is recursively split at the highest
differing bit into two sub-boxes (lower half gets LITMAX as its new high
corner — setLowBits semantics, bitkey.c:126-134; upper half gets BIGMIN
as its new low corner — clearLowBits, bitkey.c:136-144).

Differences from the reference, both deliberate:

* **Laziness** is budget-driven, not B-tree-page-driven: we split the
  "most wasteful" interval first (largest key-span : box-volume excess)
  until every interval is solid or the budget is reached.  Correctness is
  budget-independent because non-solid intervals are always refined with
  the exact per-dimension box predicate downstream (verified for every
  budget — SURVEY.md §2.3).
* **Solidity** is the exact criterion `span == volume` (every key in the
  interval lies in the box), which subsumes the reference's
  hypercube-extent test and fixes its missing-alignment bug
  (sp_query.c:106-156; counterexample box (69,151)-(76,172) flagging a
  false-solid subquery containing (67,156)).

:func:`decompose_box` (pure Python ints) handles one box, 2D 62-bit and
3D 96-bit keys alike.  :func:`decompose_boxes` runs the same heap over a
whole batch of boxes in numpy (keys up to 63 bits); box joins use it.
:func:`bucket_shift_for` and :func:`explode_buckets` turn its intervals
into the prefix-bucket rows of the bucketed join.
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np

from ..functions.curvekey import unzkey2, unzkey3, zkey2, zkey3

# Bit offsets of each dimension within an interleaved bit-group, matching
# the reference layouts: 2D key bit 2i = x_i, 2i+1 = y_i (bitkey.c:76-97);
# 3D key bit 3i = z_i, 3i+1 = y_i, 3i+2 = x_i (bitkey.c:386-417).
_DIM_OFFSETS = {2: (0, 1), 3: (2, 1, 0)}


def encode_point(coords: tuple[int, ...], bits: int) -> int:
    """Interleave coords (x, y[, z]) into a single int key."""
    ndims = len(coords)
    offs = _DIM_OFFSETS[ndims]
    k = 0
    for d, c in enumerate(coords):
        off = offs[d]
        for i in range(bits):
            k |= ((c >> i) & 1) << (i * ndims + off)
    return k


def decode_point(k: int, ndims: int, bits: int) -> tuple[int, ...]:
    offs = _DIM_OFFSETS[ndims]
    out = []
    for d in range(ndims):
        off = offs[d]
        c = 0
        for i in range(bits):
            c |= ((k >> (i * ndims + off)) & 1) << i
        out.append(c)
    return tuple(out)


@dataclass(frozen=True)
class Interval:
    lo: int
    hi: int
    solid: bool


def _same_dim_lower_mask(bit: int, ndims: int) -> int:
    """Bits below `bit` that belong to the same dimension (stride ndims)."""
    m = 0
    b = bit - ndims
    while b >= 0:
        m |= 1 << b
        b -= ndims
    return m


def _box_volume(klo: int, khi: int, ndims: int, bits: int) -> int:
    lo = decode_point(klo, ndims, bits)
    hi = decode_point(khi, ndims, bits)
    v = 1
    for a, b in zip(lo, hi):
        v *= b - a + 1
    return v


def decompose_box(
    mins: tuple[int, ...],
    maxs: tuple[int, ...],
    bits: int,
    budget: int = 256,
) -> list[Interval]:
    """Decompose the closed box [mins, maxs] into disjoint curve intervals.

    Returns intervals sorted ascending by lo.  Union of intervals is a
    superset of the box's keys; `solid` intervals contain *only* box keys.
    Non-solid intervals must be refined with the per-dim box predicate.
    Any budget >= 1 yields exact results under refinement.  Batches of
    boxes go through :func:`decompose_boxes`, which this function is the
    test oracle for.
    """
    ndims = len(mins)
    if ndims not in _DIM_OFFSETS:
        raise ValueError(f"ndims must be 2 or 3, got {ndims}")
    if len(maxs) != ndims:
        raise ValueError("mins/maxs rank mismatch")
    for a, b in zip(mins, maxs):
        if a > b:
            return []
        if a < 0 or b >= (1 << bits):
            raise ValueError(f"coords out of [0, 2^{bits}) domain")

    klo = encode_point(tuple(mins), bits)
    khi = encode_point(tuple(maxs), bits)

    def waste(lo: int, hi: int) -> int:
        return (hi - lo + 1) - _box_volume(lo, hi, ndims, bits)

    # Max-heap on waste; tie-break on lo for determinism.
    heap: list[tuple[int, int, int]] = []
    solid_out: list[Interval] = []

    def push(lo: int, hi: int) -> None:
        w = waste(lo, hi)
        if w == 0:
            solid_out.append(Interval(lo, hi, True))
        else:
            heapq.heappush(heap, (-w, lo, hi))

    push(klo, khi)
    while heap and (len(heap) + len(solid_out)) < budget:
        _, lo, hi = heapq.heappop(heap)
        bit = (lo ^ hi).bit_length() - 1
        mask = _same_dim_lower_mask(bit, ndims)
        litmax = (hi | mask) & ~(1 << bit)  # setLowBits: bitkey.c:126-134
        bigmin = (lo & ~mask) | (1 << bit)  # clearLowBits: bitkey.c:136-144
        push(lo, litmax)
        push(bigmin, hi)

    out = solid_out + [Interval(lo, hi, False) for _, lo, hi in heap]
    out.sort(key=lambda iv: iv.lo)
    # Disjointness invariant (cheap sanity check, count is small).
    for a, b in zip(out, out[1:]):
        assert a.hi < b.lo, "decomposition produced overlapping intervals"
    return out


_U = np.uint64
_NO_KEY = np.iinfo(np.uint64).max  # above every key of <= 63 bits
_ENCODE = {2: zkey2, 3: zkey3}
_DECODE = {2: unzkey2, 3: unzkey3}


def _highest_bit(x: np.ndarray) -> np.ndarray:
    """Index of the highest set bit of each nonzero uint64."""
    out = np.zeros(x.shape, np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        hit = x >= (_U(1) << _U(s))
        x = np.where(hit, x >> _U(s), x)
        out += np.where(hit, s, 0)
    return out


def _waste(lo: np.ndarray, hi: np.ndarray, ndims: int) -> np.ndarray:
    """Key span minus box volume of each interval (0 = solid); the
    vector form of decompose_box's ``waste``."""
    vol = np.ones(lo.shape, _U)
    for a, b in zip(_DECODE[ndims](lo), _DECODE[ndims](hi)):
        vol *= b - a + _U(1)
    return hi - lo + _U(1) - vol


def decompose_boxes(mins, maxs, bits: int, budget: int = 256, qids=None):
    """Decompose a batch of closed boxes at once.

    `mins`, `maxs`: (n, ndims) integer arrays, ndims 2 or 3.  Returns
    numpy arrays ``(box_index, lo, hi, solid)`` sorted by (box_index, lo);
    for each box they are exactly :func:`decompose_box`'s intervals, in
    its order.  The kernel runs decompose_box's max-heap in lock-step over
    all boxes: on each pass every box still under budget pops the
    interval with the largest waste (ties to the smaller lo, as heapq
    does) and splits it at LITMAX/BIGMIN.  Keys must fit 63 bits
    (``ndims * bits <= 63``) so spans and volumes fit uint64; wider keys
    take decompose_box.  Inverted boxes yield no intervals; a box outside
    ``[0, 2^bits)`` raises a ValueError naming it by `qids` (default: its
    row index) and its corners.
    """
    mins = np.asarray(mins, dtype=np.int64)
    maxs = np.asarray(maxs, dtype=np.int64)
    if mins.ndim != 2 or mins.shape != maxs.shape or mins.shape[1] not in _DIM_OFFSETS:
        raise ValueError(
            f"mins/maxs must both be (n, 2) or (n, 3) arrays, got {mins.shape} and {maxs.shape}"
        )
    ndims = mins.shape[1]
    if ndims * bits > 63:
        raise ValueError(
            f"decompose_boxes covers keys of <= 63 bits; bits={bits} gives "
            f"{ndims * bits}-bit {ndims}D keys (use decompose_box)"
        )
    keep = np.flatnonzero((mins <= maxs).all(axis=1))
    bad = ((mins[keep] < 0) | (maxs[keep] >= 1 << bits)).any(axis=1)
    if bad.any():
        i = int(keep[np.argmax(bad)])
        name = f"qid {qids[i]}" if qids is not None else f"box {i}"
        raise ValueError(
            f"{name} ({tuple(mins[i].tolist())}, {tuple(maxs[i].tolist())}) "
            f"lies outside [0, 2^{bits})"
        )

    m = keep.size
    cap = max(1, min(budget, 16))  # interval slots per box; grows on demand
    LO = np.zeros((m, cap), _U)
    HI = np.zeros((m, cap), _U)
    W = np.zeros((m, cap), _U)  # waste; 0 = solid or unused slot
    LO[:, 0] = _ENCODE[ndims](*mins[keep].T.astype(_U))
    HI[:, 0] = _ENCODE[ndims](*maxs[keep].T.astype(_U))
    W[:, 0] = _waste(LO[:, 0], HI[:, 0], ndims)
    count = np.ones(m, np.int64)
    masks = np.array([_same_dim_lower_mask(b, ndims) for b in range(ndims * bits)], _U)
    rows = np.arange(m)
    while True:
        rows = rows[(count[rows] < budget) & (W[rows].max(axis=1) > 0)]
        if not rows.size:
            break
        if count[rows].max() == cap:
            grow = min(2 * cap, budget) - cap
            LO, HI, W = (np.pad(a, ((0, 0), (0, grow))) for a in (LO, HI, W))
            cap += grow
        w = W[rows]
        j = np.where(w == w.max(axis=1, keepdims=True), LO[rows], _NO_KEY).argmin(axis=1)
        lo, hi = LO[rows, j], HI[rows, j]
        bit = _highest_bit(lo ^ hi)
        mask, top = masks[bit], _U(1) << bit.astype(_U)
        litmax = (hi | mask) & ~top  # setLowBits: bitkey.c:126-134
        bigmin = (lo & ~mask) | top  # clearLowBits: bitkey.c:136-144
        c = count[rows]
        HI[rows, j], W[rows, j] = litmax, _waste(lo, litmax, ndims)
        LO[rows, c], HI[rows, c], W[rows, c] = bigmin, hi, _waste(bigmin, hi, ndims)
        count[rows] += 1

    used = np.arange(cap) < count[:, None]
    order = np.argsort(np.where(used, LO, _NO_KEY), axis=1)
    LO, HI, W = (np.take_along_axis(a, order, axis=1)[used] for a in (LO, HI, W))
    return np.repeat(keep, count), LO.astype(np.int64), HI.astype(np.int64), W == 0


# Most bucket rows per interval the bucketed box join accepts (Band Joins
# for Interval Data, EDBT 2020: bounded replication keeps the exploded
# build side linear in the interval count).
BUCKET_ROWS_PER_INTERVAL = 2


def bucket_shift_for(lo, hi, max_shift: int) -> int:
    """The finest bucket width for intervals [lo, hi]: the smallest shift
    in [1, max_shift] at which they explode into at most
    ``BUCKET_ROWS_PER_INTERVAL`` x their count prefix-bucket rows (1 when
    there are none).  Finer buckets mean fewer candidate intervals per
    point; the bound keeps the exploded relation small.  `max_shift` is the
    key width, where every interval is one bucket."""
    lo = np.asarray(lo, dtype=np.int64)
    hi = np.asarray(hi, dtype=np.int64)
    if not lo.size:
        return 1
    limit = BUCKET_ROWS_PER_INTERVAL * lo.size
    shifts = np.arange(1, max_shift + 1)
    rows = (hi[:, None] >> shifts) - (lo[:, None] >> shifts) + 1
    total = np.minimum(rows, limit + 1).sum(axis=0)  # clipped: no overflow
    return int(shifts[np.argmax(total <= limit)])


def explode_buckets(lo, hi, shift: int) -> tuple[np.ndarray, np.ndarray]:
    """``(row, bucket)``: interval ``row`` once for each prefix bucket
    ``range(lo >> shift, (hi >> shift) + 1)`` it overlaps."""
    first = np.asarray(lo, dtype=np.int64) >> shift
    n = (np.asarray(hi, dtype=np.int64) >> shift) - first + 1
    row = np.repeat(np.arange(first.size), n)
    start = np.cumsum(n) - n
    return row, first[row] + np.arange(row.size) - start[row]


def coalesce_intervals(ivs: list[Interval], max_intervals: int = 32) -> list[Interval]:
    """Merge intervals until at most `max_intervals` remain, absorbing the
    smallest gaps first.  Merged intervals lose solidity (the gap keys are
    outside the box) — harmless because non-solid intervals are always
    refined.  This keeps OR-of-BETWEEN predicates small: Catalyst's
    optimizer cost grows steeply with OR-chain length (measured: 256
    terms ~ 36s, 16 terms ~ 1s), while pruning quality degrades only by
    the absorbed gap volume."""
    if len(ivs) <= max_intervals:
        return ivs
    ivs = sorted(ivs, key=lambda v: v.lo)
    # gaps between consecutive intervals, smallest first
    gaps = sorted(
        range(len(ivs) - 1), key=lambda i: ivs[i + 1].lo - ivs[i].hi
    )
    merge_at = set(gaps[: len(ivs) - max_intervals])
    out: list[Interval] = []
    cur_lo, cur_hi, cur_solid = ivs[0].lo, ivs[0].hi, ivs[0].solid
    for i in range(1, len(ivs)):
        if (i - 1) in merge_at:
            cur_hi = ivs[i].hi
            cur_solid = False
        else:
            out.append(Interval(cur_lo, cur_hi, cur_solid))
            cur_lo, cur_hi, cur_solid = ivs[i].lo, ivs[i].hi, ivs[i].solid
    out.append(Interval(cur_lo, cur_hi, cur_solid))
    return out


def covering_tiles(
    mins: tuple[int, int],
    maxs: tuple[int, int],
    level: int,
    bits: int = 30,
    max_tiles: int = 4096,
) -> list[int]:
    """All level-`level` tile ids whose square intersects the closed box.

    A tile is a solid curve interval (prefix cell).  Used as the equi-join
    prefilter for point-in-polygon and raster<->vector assignment
    (SURVEY.md §2.7).  Raises if the box would cover more than `max_tiles`
    tiles — callers should drop to a coarser level instead.
    """
    shift = bits - level
    tx0, tx1 = mins[0] >> shift, maxs[0] >> shift
    ty0, ty1 = mins[1] >> shift, maxs[1] >> shift
    n = (tx1 - tx0 + 1) * (ty1 - ty0 + 1)
    if n > max_tiles:
        raise ValueError(f"box covers {n} tiles at level {level} > {max_tiles}")
    out = []
    for ty in range(ty0, ty1 + 1):
        for tx in range(tx0, tx1 + 1):
            out.append(encode_point((tx, ty), level))
    return out


def pick_cover_level(
    mins: tuple[int, int],
    maxs: tuple[int, int],
    bits: int = 30,
    max_tiles: int = 256,
) -> int:
    """Finest tile level at which the box cover stays within max_tiles."""
    for level in range(bits, -1, -1):
        shift = bits - level
        n = ((maxs[0] >> shift) - (mins[0] >> shift) + 1) * (
            (maxs[1] >> shift) - (mins[1] >> shift) + 1
        )
        if n <= max_tiles:
            return level
    return 0


# ---------------------------------------------------------------------------
# Hilbert box cover (the Hilbert analog of decompose_box)
# ---------------------------------------------------------------------------


def _unhilbert2_scalar(d: int, order: int) -> tuple[int, int]:
    """Pure-int d->(x,y) for one Hilbert index (same Gray-code rotation
    walk as curvekey.unhilbert2, which is property-tested against
    curvekey.hilbert2)."""
    t, x, y, s = d, 0, 0, 1
    top = 1 << order
    while s < top:
        rx = 1 & (t // 2)
        ry = 1 & (t ^ rx)
        if ry == 0:
            if rx == 1:
                x = s - 1 - x
                y = s - 1 - y
            x, y = y, x
        x += s * rx
        y += s * ry
        t //= 4
        s <<= 1
    return x, y


def hilbert_covers(
    mins: tuple[int, int],
    maxs: tuple[int, int],
    order: int,
    budget: int = 256,
) -> list[Interval]:
    """Decompose the closed box [mins, maxs] into disjoint HILBERT-index
    intervals (quadrant-recursive cover — the Hilbert analog of the
    Z-curve's LITMAX/BIGMIN splitting, sp_query.c:324-356).

    Key property used: at order n, the indices [i*4^s, (i+1)*4^s) for
    s = n - depth form exactly one axis-aligned 2^s x 2^s square, so a
    quadtree descent over curve cells enumerates candidate intervals.
    Like decompose_box, splitting is budget-driven on a waste max-heap
    (key-span minus box-intersection area) and any budget >= 1 is exact
    under downstream per-dim refinement; `solid` intervals contain only
    box keys.  Adjacent intervals are merged (solid&&solid stays solid).
    """
    (bx0, by0), (bx1, by1) = tuple(mins), tuple(maxs)
    if bx0 > bx1 or by0 > by1:
        return []
    for v in (bx0, by0, bx1, by1):
        if v < 0 or v >= (1 << order):
            raise ValueError(f"coords out of [0, 2^{order}) domain")

    solid_out: list[Interval] = []
    heap: list[tuple[int, int, int, int]] = []  # (-waste, lo, depth, i)

    def classify(d: int, i: int) -> None:
        s = order - d
        lo = i << (2 * s)
        px, py = _unhilbert2_scalar(lo, order)
        cx0, cy0 = (px >> s) << s, (py >> s) << s
        cx1, cy1 = cx0 + (1 << s) - 1, cy0 + (1 << s) - 1
        if cx0 > bx1 or cx1 < bx0 or cy0 > by1 or cy1 < by0:
            return  # disjoint
        hi = lo + (1 << (2 * s)) - 1
        if cx0 >= bx0 and cx1 <= bx1 and cy0 >= by0 and cy1 <= by1:
            solid_out.append(Interval(lo, hi, True))
            return
        waste = (hi - lo + 1) - (
            (min(cx1, bx1) - max(cx0, bx0) + 1) * (min(cy1, by1) - max(cy0, by0) + 1)
        )
        heapq.heappush(heap, (-waste, lo, d, i))

    classify(0, 0)
    while heap and (len(heap) + len(solid_out)) < budget:
        _, lo, d, i = heapq.heappop(heap)
        if d == order:  # single point can't be partial; defensive
            solid_out.append(Interval(lo, lo, True))
            continue
        for c in range(4):
            classify(d + 1, i * 4 + c)

    ivs = solid_out + [
        Interval(lo, lo + (1 << (2 * (order - d))) - 1, False) for _, lo, d, _ in heap
    ]
    ivs.sort(key=lambda iv: iv.lo)
    # merge contiguous intervals (quadrant siblings touch in index space)
    out: list[Interval] = []
    for iv in ivs:
        if out and out[-1].hi + 1 == iv.lo:
            out[-1] = Interval(out[-1].lo, iv.hi, out[-1].solid and iv.solid)
        else:
            out.append(iv)
    for a, b in zip(out, out[1:]):
        assert a.hi < b.lo, "hilbert cover produced overlapping intervals"
    return out


def hilbert3_covers(
    mins: tuple[int, int, int],
    maxs: tuple[int, int, int],
    order: int,
    budget: int = 256,
) -> list[Interval]:
    """3D analog of :func:`hilbert_covers`: decompose the closed box into
    disjoint HILBERT3-index intervals via octree-recursive cover.

    Key property (verified numerically for the Skilling construction):
    at order n the indices [i*8^s, (i+1)*8^s) for s = n - depth form
    exactly one axis-aligned 2^s cube.  Splitting is budget-driven on a
    waste max-heap (key-span minus box-intersection volume); any
    budget >= 1 is exact under downstream per-dim refinement."""
    from ..functions import curvekey as _ck

    b0, b1 = tuple(mins), tuple(maxs)
    if any(l > h for l, h in zip(b0, b1)):
        return []
    for v in (*b0, *b1):
        if v < 0 or v >= (1 << order):
            raise ValueError(f"coords out of [0, 2^{order}) domain")

    import numpy as _np

    def _dec(lo: int) -> tuple[int, int, int]:
        x, y, z = _ck.unhilbert3(_np.array([lo], dtype=_np.uint64), order=order)
        return int(x[0]), int(y[0]), int(z[0])

    solid_out: list[Interval] = []
    heap: list[tuple[int, int, int, int]] = []  # (-waste, lo, depth, i)

    def classify(d: int, i: int) -> None:
        s = order - d
        lo = i << (3 * s)
        p = _dec(lo)
        c0 = tuple((v >> s) << s for v in p)
        c1 = tuple(v + (1 << s) - 1 for v in c0)
        if any(a > h or b < l for a, b, l, h in zip(c0, c1, b0, b1)):
            return  # disjoint
        hi = lo + (1 << (3 * s)) - 1
        if all(a >= l and b <= h for a, b, l, h in zip(c0, c1, b0, b1)):
            solid_out.append(Interval(lo, hi, True))
            return
        inter = 1
        for a, b, l, h in zip(c0, c1, b0, b1):
            inter *= min(b, h) - max(a, l) + 1
        heapq.heappush(heap, (-(hi - lo + 1 - inter), lo, d, i))

    classify(0, 0)
    while heap and (len(heap) + len(solid_out)) < budget:
        _, lo, d, i = heapq.heappop(heap)
        if d == order:  # single point can't be partial; defensive
            solid_out.append(Interval(lo, lo, True))
            continue
        for c in range(8):
            classify(d + 1, i * 8 + c)

    ivs = solid_out + [
        Interval(lo, lo + (1 << (3 * (order - d))) - 1, False) for _, lo, d, _ in heap
    ]
    ivs.sort(key=lambda iv: iv.lo)
    out: list[Interval] = []
    for iv in ivs:
        if out and out[-1].hi + 1 == iv.lo:
            out[-1] = Interval(out[-1].lo, iv.hi, out[-1].solid and iv.solid)
        else:
            out.append(iv)
    for a, b in zip(out, out[1:]):
        assert a.hi < b.lo, "hilbert3 cover produced overlapping intervals"
    return out
