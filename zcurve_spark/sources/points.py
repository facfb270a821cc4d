"""Deterministic point tables derived from the driver's parquet tables.

The reference benchmarks over `test_points(x int, y int)` with uniform
coords in [0, 10^6) (gendata.awk:1-10).  We derive the same shape from
the driver-provided `lineitem` table with pure int64 arithmetic that
Spark SQL and DuckDB evaluate identically — so every spatial query here
has an exact ANSI-SQL oracle (the driver's correctness gate).

The multipliers are Knuth/Numerical-Recipes-style odd constants; all
intermediates stay far below 2^63 (l_orderkey < 6*10^9 even at sf1000
would overflow — at the sandbox SFs max l_orderkey ~ 6*10^6, products
< 2*10^16).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.columns import zkey2_col, zkey3_col
from ..util import fan_out

DOMAIN = 1_000_000  # coords in [0, 10^6), matching gendata.awk
BITS = 20  # 10^6 < 2^20

# SQL fragments (DuckDB-compatible) — single source of truth for oracles.
PID_SQL = "(l_orderkey * 8 + l_linenumber)"
X_SQL = f"((l_orderkey * 2654435761 + l_linenumber * 40503) % {DOMAIN})"
Y_SQL = f"((l_partkey * 2246822519 + l_suppkey * 1013904223) % {DOMAIN})"
Z_SQL = f"((l_orderkey * 1013904223 + l_partkey * 69069) % {DOMAIN})"

POINTS_SQL = (
    f"SELECT {PID_SQL} AS pid, {X_SQL} AS x, {Y_SQL} AS y, {Z_SQL} AS z "
    "FROM lineitem"
)


def points_from_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(pid, x, y, z, zkey, zkey3) points table derived from lineitem.

    zkey / zkey3 are computed with the pure-Column JVM kernels — the
    whole derivation stays inside whole-stage codegen.
    """
    li = fan_out(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    pts = li.selectExpr(
        f"{PID_SQL} AS pid", f"{X_SQL} AS x", f"{Y_SQL} AS y", f"{Z_SQL} AS z"
    )
    return pts.withColumn("zkey", zkey2_col("x", "y")).withColumn(
        "zkey3", zkey3_col("x", "y", "z")
    )


def deterministic_boxes(n: int, extent: int = 1000, ndims: int = 2) -> list[dict]:
    """gentest.awk-shaped box workload: `extent`-sized boxes with corners at
    multiples of `extent` (gentest.awk:4-5), deterministic (no RNG so the
    same literals can be inlined into oracle SQL)."""
    boxes = []
    for qid in range(n):
        # LCG on qid — plain int arithmetic, reproducible anywhere
        h = (qid * 2654435761 + 123456789) % (2**31)
        x0 = (h % (DOMAIN // extent)) * extent
        h = (h * 1103515245 + 12345) % (2**31)
        y0 = (h % (DOMAIN // extent)) * extent
        mins = [x0, y0]
        maxs = [x0 + extent, y0 + extent]
        if ndims == 3:
            h = (h * 69069 + 1) % (2**31)
            z0 = (h % (DOMAIN // extent)) * extent
            mins.append(z0)
            maxs.append(z0 + extent)
        boxes.append({"qid": qid, "mins": tuple(mins), "maxs": tuple(maxs)})
    return boxes


def unaligned_boxes(n: int, ndims: int = 2) -> list[dict]:
    """Unaligned random-extent boxes — covers the reference's
    solidity-alignment bug class (SURVEY.md §2.3)."""
    boxes = []
    for qid in range(n):
        h = (qid * 40503 + 987654321) % (2**31)
        mins, maxs = [], []
        for _ in range(ndims):
            h = (h * 1103515245 + 12345) % (2**31)
            lo = h % DOMAIN
            h = (h * 69069 + 1) % (2**31)
            ext = 1 + h % 5000
            mins.append(lo)
            maxs.append(min(lo + ext, DOMAIN - 1))
        boxes.append({"qid": qid, "mins": tuple(mins), "maxs": tuple(maxs)})
    return boxes


def _box_cols(boxes: list[dict]) -> list[str]:
    dims = ("x", "y", "z")[: len(boxes[0]["mins"])]
    return ["qid", *(f"{d}0" for d in dims), *(f"{d}1" for d in dims)]


def boxes_df(spark: SparkSession, boxes: list[dict]) -> DataFrame:
    """The box batch as (qid, x0, y0[, z0], x1, y1[, z1]) rows built from
    a list: an RDD, which ``bucketed_intervals_dist`` decomposes in the
    executors."""
    rows = [
        tuple([b["qid"]] + [int(v) for v in b["mins"]] + [int(v) for v in b["maxs"]])
        for b in boxes
    ]
    return spark.createDataFrame(rows, ", ".join(f"{c} long" for c in _box_cols(boxes)))


def boxes_local_df(spark: SparkSession, boxes: list[dict]) -> DataFrame:
    """:func:`boxes_df` built through pandas/Arrow: a local relation the
    driver holds, which ``bucketed_intervals_dist`` decomposes on the
    driver."""
    rows = [[b["qid"], *b["mins"], *b["maxs"]] for b in boxes]
    return spark.createDataFrame(pd.DataFrame(rows, columns=_box_cols(boxes), dtype="int64"))


def boxes_values_sql(boxes: list[dict]) -> str:
    """The same boxes as an inline SQL VALUES relation (for oracles)."""
    cols = _box_cols(boxes)
    vals = ", ".join(
        "(" + ", ".join(str(v) for v in [b["qid"], *b["mins"], *b["maxs"]]) + ")"
        for b in boxes
    )
    return f"(VALUES {vals}) AS boxes({', '.join(cols)})"
