"""zcurve_spark — PySpark-native spatial-join + tiling engine.

Brand-new engine with the query capabilities of the `zcurve` PostgreSQL
extension (bit-interleaved Z-order keys + exact box lookups via
Tropf–Herzog interval decomposition), rebuilt Spark-first: DataFrame
plans, Catalyst pushdown, Arrow-vectorized kernels — extended with
Hilbert keys, tile (H3/S2-style prefix cell) assignment, point-in-polygon
and kNN joins, and large-scale training-data pipeline ops (dedup,
similarity search, text analysis) over interleaved documents of text
spans and media references.
"""

__version__ = "0.1.0"
