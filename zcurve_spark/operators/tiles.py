"""Tile (prefix-cell) assignment, raster<->vector joins, skew handling.

A level-L tile is the set of points sharing the top 2L bits of their
Z-key — exactly a *solid* curve interval (SURVEY.md §2.7), so tile
membership is pure prefix arithmetic on the already-computed key
(`zkey >> 2*(bits-level)`), never a recompute from coordinates.  This is
the H3/S2-style cell layer of the engine: assignment is a Column shift,
tile joins are equi-joins (hash-partitionable, AQE-skew-splittable), and
a raster grid is just a relation of aligned tiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.columns import _quoted, tile_id_col


def assign_tiles(df: DataFrame, levels=(4, 8, 12), zkey_col: str = "zkey", bits: int = 30) -> DataFrame:
    """Add tile_l{L} columns for each requested level."""
    for level in levels:
        df = df.withColumn(f"tile_l{level}", tile_id_col(zkey_col, level, bits=bits))
    return df


def tile_counts(df: DataFrame, level: int, zkey_col: str = "zkey", bits: int = 30) -> DataFrame:
    """Per-tile row counts — map-side partial agg then one shuffle on
    tile id; the canonical tile-statistics query."""
    return (
        df.withColumn("tile_id", tile_id_col(zkey_col, level, bits=bits))
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def tile_pyramid(
    df: DataFrame,
    levels=(4, 6, 8),
    zkey_col: str = "zkey",
    bits: int = 30,
    value_col: str | None = None,
) -> DataFrame:
    """Multi-resolution tile statistics with ONE pass over the raw rows.

    The finest level aggregates the raw relation (the only full-table
    shuffle); every coarser level rolls up from the finest level's rows
    by prefix arithmetic (``parent = child >> 2*dL`` — a level-L tile id
    is the top 2L bits of the key, so a coarser id is a further right
    shift of the SAME prefix).  At most ``4^L_finest`` rows enter the
    rollup regardless of table size: with 10^12 input rows and levels
    (4, 8, 12) the naive per-level plan shuffles the raw table three
    times, while this plan shuffles it once plus one rollup over
    ``len(levels) * 4^L_finest`` pre-aggregated rows.  count/sum/min/max
    are decomposable, so the rolled-up values are exactly the direct
    aggregates (the hypertable/continuous-aggregate identity).

    Plan shape (r6, guide §2.4): ONE groupBy at the finest level, then
    one Generate exploding each finest row to its (level, parent_tile)
    pairs, then one (level, tile_id) aggregate — every aggregate is
    evaluated exactly once.  The previous union-of-branches form shared
    only the raw EXCHANGE via ReuseExchange; the finest reduce-side
    aggregation itself sat above the exchange in every branch and ran
    once per level (3x at levels (4, 8, 12) — measured 15-20% of the
    row at 64M rows).  The union is gone, so nothing needs reuse
    (pytest asserts the two-exchange / single-scan shape).  The plan is
    ONE SQL statement over `df` (passed to ``spark.sql`` as a DataFrame
    parameter): a handful of Py4J round trips, where the same plan built
    Column by Column made ~500.

    Output: (level, tile_id, n[, sum_v, min_v, max_v]).
    """
    lvls = sorted(set(int(l) for l in levels), reverse=True)  # finest first
    if not lvls:
        raise ValueError("levels must be non-empty")
    finest = lvls[0]
    if not 0 <= finest <= bits:
        raise ValueError(f"level must be in [0, {bits}]")
    # Narrower shuffle key (guide §2.3): a level-L tile id is 2L bits,
    # so for L <= 15 BOTH exchanges of this plan — the full-table
    # finest shuffle and the exploded rollup — can carry an int instead
    # of a long (the per-row shuffle tuple drops 16 -> 12 bytes before
    # compression).  The id is cast back to long only in the final
    # projection, so the OUTPUT schema (and the driver's type-sensitive
    # hash) is unchanged.
    tid = f"shiftrightunsigned(CAST({_quoted(zkey_col)} AS BIGINT), {2 * (bits - finest)})"
    cols = [f"CAST({tid} AS INT) AS tile_id" if 2 * finest <= 31 else f"{tid} AS tile_id"]
    aggs, roll, metrics = ["count(1) AS n"], ["sum(n) AS n"], ["n"]
    if value_col is not None:
        cols.append(f"{_quoted(value_col)} AS v")
        aggs += ["sum(v) AS sum_v", "min(v) AS min_v", "max(v) AS max_v"]
        roll += ["sum(sum_v) AS sum_v", "min(min_v) AS min_v", "max(max_v) AS max_v"]
        metrics += ["sum_v", "min_v", "max_v"]
    # `{df}` is the input relation (a DataFrame parameter of spark.sql)
    finest_sql = f"SELECT tile_id, {', '.join(aggs)} FROM (SELECT {', '.join(cols)} FROM {{df}}) GROUP BY tile_id"
    if len(lvls) == 1:
        # single level: no rollup needed — emit directly, one aggregate
        q = f"SELECT {finest} AS level, CAST(tile_id AS BIGINT) AS tile_id, {', '.join(metrics)} FROM ({finest_sql})"
    else:
        pairs = ", ".join(
            f"named_struct('level', {lv}, 'tile_id', shiftright(tile_id, {2 * (finest - lv)}))" for lv in lvls
        )
        q = (
            f"SELECT _lt.level AS level, CAST(_lt.tile_id AS BIGINT) AS tile_id, {', '.join(roll)} "
            f"FROM (SELECT explode(array({pairs})) AS _lt, {', '.join(metrics)} FROM ({finest_sql})) "
            "GROUP BY _lt.level, _lt.tile_id"
        )
    return df.sparkSession.sql(q, df=df)


def raster_assign(
    points: DataFrame,
    raster: DataFrame,
    level_col: str = "level",
    cell_col: str = "cell_id",
    zkey_col: str = "zkey",
    bits: int = 30,
) -> DataFrame:
    """Raster->vector assignment: each point joined to the raster cell(s)
    containing it, across possibly mixed cell levels.

    A cell at level L contains a point iff the point's level-L tile id
    equals the cell id (prefix containment == the solid-interval test
    `cell_lo <= zkey <= cell_hi`).  Implemented as an equi-join per level
    (raster side grouped by level) — broadcastable when the raster is
    small, hash-join otherwise; never a theta-join.
    """
    levels = [r[0] for r in raster.select(level_col).distinct().collect()]
    out = None
    for level in sorted(levels):
        cells = raster.filter(F.col(level_col) == level)
        pts = points.withColumn("_tile", tile_id_col(zkey_col, level, bits=bits))
        j = pts.join(cells, pts["_tile"] == cells[cell_col], "inner").drop("_tile")
        out = j if out is None else out.unionByName(j)
    return out


def raster_assign_pruned(
    spark,
    store_path: str,
    cells: list[tuple[int, int]],
    *,
    zkey_col: str = "zkey",
    bits: int = 30,
) -> DataFrame:
    """:func:`raster_assign` over the materialized key-sorted store.

    A raster cell IS a solid curve interval (prefix cell), so its
    [lo, hi] bounds drive manifest file pruning directly — the scan
    touches only files overlapping some requested cell (VERDICT r1 #1:
    route raster candidates through read_pruned).  `cells` is a
    driver-side list of (cell_id, level) pairs."""
    from ..functions.columns import tile_bounds
    from ..sources.manifest import read_pruned

    ivs = [tile_bounds(cid, lvl, bits=bits) for cid, lvl in cells]
    pts = read_pruned(spark, store_path, ivs)
    raster = spark.createDataFrame(
        [(int(c), int(l)) for c, l in cells], "cell_id long, level int"
    )
    return raster_assign(pts, raster, zkey_col=zkey_col, bits=bits)


def tile_counts_incremental(
    spark,
    store,
    state_dir: str,
    *,
    level: int,
    bits: int = 30,
    zkey_col: str = "zkey",
) -> DataFrame:
    """Incrementally-maintained per-tile counts over a SnapshotStore —
    the continuous-aggregate / materialized-view pattern.

    The state directory holds the (tile_id, n) relation as parquet plus
    a ``state.json`` recording which snapshot it reflects.  Per call:

    - state current  -> read the state, ZERO table scan;
    - appends since  -> aggregate ONLY the added files
      (:meth:`SnapshotStore.read_incremental`), then merge partials
      into the state (counts are decomposable: old + delta), a job
      whose input is O(delta rows + 4^level tiles), not table rows;
    - non-append in range (merge/compact rewrite) or no state yet ->
      full recompute at the current snapshot (the same fallback contract
      as Iceberg incremental scans).

    At 10^12 rows with daily appends this turns the canonical
    tile-statistics query from a daily full-table shuffle into a
    delta-sized one.  State swings atomically (parquet written to a
    per-snapshot dir, then ``os.replace`` of state.json), so a crashed
    refresh leaves the previous state readable and the orphan dir is
    overwritten by the next successful refresh of that snapshot.
    """
    import json
    import os

    from ..sources.snapshots import _atomic_json

    cur = store.snapshot()
    sid = cur["snapshot_id"]
    state_json = os.path.join(state_dir, "state.json")
    st = None
    prev_data = None  # data dir of the state this refresh replaces
    if os.path.exists(state_json):
        with open(state_json) as fh:
            st = json.load(fh)
        prev_data = st["data"]
        if st.get("level") != level or st.get("bits") != bits:
            # state for a different tiling (ADVICE r5: bits is written
            # into state.json and changes the tile ids just like level
            # — trusting a stale-bits cache would silently return
            # counts computed under the old tiling): rebuild
            st = None
    if st is not None and st["snapshot_id"] == sid:
        return spark.read.parquet(os.path.join(state_dir, st["data"]))

    fresh = None
    if st is not None:
        try:
            delta = store.read_incremental(st["snapshot_id"], sid)
            old = spark.read.parquet(os.path.join(state_dir, st["data"]))
            fresh = (
                tile_counts(delta, level, zkey_col=zkey_col, bits=bits)
                .unionByName(old)
                .groupBy("tile_id")
                .agg(F.sum("n").alias("n"))
            )
        except (ValueError, LookupError):
            fresh = None  # rewrite in range -> fall back to full recompute
    if fresh is None:
        fresh = tile_counts(store.read(sid), level, zkey_col=zkey_col, bits=bits)

    data_rel = f"counts-s{sid}"
    out_dir = os.path.join(state_dir, data_rel)
    fresh.write.mode("overwrite").parquet(out_dir)
    _atomic_json(
        state_json,
        {"snapshot_id": sid, "level": level, "bits": bits, "data": data_rel},
    )
    if prev_data is not None and prev_data != data_rel:
        import shutil

        shutil.rmtree(os.path.join(state_dir, prev_data), ignore_errors=True)
    return spark.read.parquet(out_dir)


def salt_hot_tiles(
    df: DataFrame,
    tile_col: str,
    n_salt: int = 16,
    id_col: str | None = None,
) -> DataFrame:
    """Skew mitigation for hot tiles (dense cities at 10^12-row scale):
    append a deterministic salt so one hot tile spreads over n_salt
    shuffle partitions.  Aggregations run per (tile, salt) then re-reduce
    per tile; joins replicate the small side per salt value.
    """
    # Without an id column, salt over ALL columns: the first column alone
    # may be constant per hot tile (e.g. the tile id itself), which would
    # put every row of the hot tile on the same salt — no mitigation.
    h = F.xxhash64(F.col(id_col)) if id_col else F.xxhash64(*df.columns)
    return df.withColumn("tile_salt", F.pmod(h, F.lit(n_salt)))


def tile_counts_salted(
    df: DataFrame, level: int, zkey_col: str = "zkey", bits: int = 30, n_salt: int = 16,
    id_col: str | None = None,
) -> DataFrame:
    """Two-stage salted tile count: identical result to tile_counts, but a
    hot tile's reduction fans out over n_salt partitions first."""
    t = df.withColumn("tile_id", tile_id_col(zkey_col, level, bits=bits))
    t = salt_hot_tiles(t, "tile_id", n_salt=n_salt, id_col=id_col)
    partial = t.groupBy("tile_id", "tile_salt").agg(F.count(F.lit(1)).alias("pn"))
    return partial.groupBy("tile_id").agg(F.sum("pn").alias("n"))
