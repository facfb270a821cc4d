"""Kernel property tests: round-trips, exact reference bit layout, Hilbert
locality, numpy <-> pure-Column equivalence (SURVEY.md §5.2 item 1)."""

from __future__ import annotations

import numpy as np
import pytest

from zcurve_spark.functions import curvekey as ck

N = 100_000


def _rand(rng, bits, n=N):
    return rng.integers(0, 1 << bits, n, dtype=np.uint64)


class TestZkey2:
    def test_roundtrip(self, rng):
        x, y = _rand(rng, 31), _rand(rng, 31)
        xd, yd = ck.unzkey2(ck.zkey2(x, y))
        assert (xd == x).all() and (yd == y).all()

    def test_reference_bit_layout(self, rng):
        """bitkey.c:76-97: key bit 2i = x_i, bit 2i+1 = y_i."""
        for xx, yy in [(0, 0), (1, 0), (0, 1), (12345, 67890), (2**31 - 1, 2**31 - 1)]:
            k = int(ck.zkey2(np.array([xx], np.uint64), np.array([yy], np.uint64))[0])
            ref = sum(
                (((xx >> i) & 1) << (2 * i)) | (((yy >> i) & 1) << (2 * i + 1))
                for i in range(32)
            )
            assert k == ref

    def test_golden_vectors(self):
        """Solidity-bug regression triple (FIXTURES.md §8)."""
        assert int(ck.zkey2(np.array([69], np.uint64), np.array([152], np.uint64))[0]) == 37521
        assert int(ck.zkey2(np.array([67], np.uint64), np.array([156], np.uint64))[0]) == 37541
        assert int(ck.zkey2(np.array([76], np.uint64), np.array([159], np.uint64))[0]) == 37626

    def test_monotone_per_dimension(self, rng):
        """Bit spreading is order-preserving per dim (basis of the masked
        between test, bitkey.c:35-59)."""
        x = _rand(rng, 31, 1000)
        y = np.full_like(x, 12345)
        k = ck.zkey2(x, y)
        order = np.argsort(x, kind="stable")
        assert (np.diff(k[order].astype(np.int64)) >= 0).all()

    def test_sort_safe_int64(self, rng):
        x, y = _rand(rng, 31), _rand(rng, 31)
        k = ck.zkey2(x, y)
        assert int(k.max()) < 2**62  # non-negative as signed long


class TestZkey3:
    def test_roundtrip(self, rng):
        x, y, z = _rand(rng, 20), _rand(rng, 20), _rand(rng, 20)
        xd, yd, zd = ck.unzkey3(ck.zkey3(x, y, z))
        assert (xd == x).all() and (yd == y).all() and (zd == z).all()

    def test_reference_bit_layout(self, rng):
        """bitkey.c:386-417: bit 3i = z_i, 3i+1 = y_i, 3i+2 = x_i."""
        x, y, z = _rand(rng, 20, 200), _rand(rng, 20, 200), _rand(rng, 20, 200)
        k = ck.zkey3(x, y, z)
        for i in range(200):
            assert int(k[i]) == ck.zkey3_full(int(x[i]), int(y[i]), int(z[i]))

    def test_full_96bit_roundtrip(self, rng):
        for _ in range(200):
            x, y, z = (int(v) for v in rng.integers(0, 2**32, 3))
            assert ck.unzkey3_full(ck.zkey3_full(x, y, z)) == (x, y, z)
        # 96-bit keys exceed int64 — the reference's numeric-typed key
        k = ck.zkey3_full(2**32 - 1, 2**32 - 1, 2**32 - 1)
        assert k == 2**96 - 1


class TestHilbert:
    def test_roundtrip(self, rng):
        x, y = _rand(rng, 31), _rand(rng, 31)
        xd, yd = ck.unhilbert2(ck.hilbert2(x, y, order=31), order=31)
        assert (xd == x).all() and (yd == y).all()

    def test_bijective_small(self):
        """Every cell of a 64x64 grid maps to a distinct d in [0, 4096)."""
        g = np.arange(64, dtype=np.uint64)
        X, Y = np.meshgrid(g, g)
        d = ck.hilbert2(X.ravel(), Y.ravel(), order=6)
        assert len(np.unique(d)) == 4096 and int(d.max()) == 4095

    def test_adjacency(self):
        """Consecutive curve positions are grid neighbors — the locality
        property that makes Hilbert keys range-partition-friendly."""
        d = np.arange(4096, dtype=np.uint64)
        x, y = ck.unhilbert2(d, order=6)
        man = np.abs(np.diff(x.astype(np.int64))) + np.abs(np.diff(y.astype(np.int64)))
        assert (man == 1).all()


class TestQuantizers:
    def test_lon_lat_bounds(self):
        lon = np.array([-180.0, -0.0001, 0.0, 179.9999, 180.0, 200.0, -200.0])
        q = ck.quantize_lon(lon, bits=20)
        assert int(q.min()) >= 0 and int(q.max()) < 2**20
        lat = np.array([-90.0, 0.0, 89.9999, 90.0])
        q = ck.quantize_lat(lat, bits=20)
        assert int(q.min()) >= 0 and int(q.max()) < 2**20

    def test_roundtrip_error_bound(self, rng):
        lon = rng.uniform(-180, 180, 10000)
        back = ck.dequantize_lon(ck.quantize_lon(lon, bits=30), bits=30)
        assert np.abs(back - lon).max() < 360.0 / 2**30 + 1e-9


class TestColumnKernelsMatchNumpy:
    """The JVM Column expressions are the production path; prove they equal
    the numpy kernels bit-for-bit (SURVEY.md §5.2)."""

    def test_zkey2_and_decode(self, spark, rng):
        import pandas as pd
        from pyspark.sql import functions as F

        from zcurve_spark.functions import columns as C

        n = 20_000
        x = rng.integers(0, 1 << 31, n, dtype=np.uint64)
        y = rng.integers(0, 1 << 31, n, dtype=np.uint64)
        df = spark.createDataFrame(
            pd.DataFrame({"x": x.astype(np.int64), "y": y.astype(np.int64)})
        )
        out = (
            df.select(C.zkey2_col("x", "y").alias("k"))
            .select("k", C.unzkey2_x_col("k").alias("xd"), C.unzkey2_y_col("k").alias("yd"))
            .toPandas()
        )
        assert (out.k.to_numpy(np.uint64) == ck.zkey2(x, y)).all()
        assert (out.xd.to_numpy(np.uint64) == x).all()
        assert (out.yd.to_numpy(np.uint64) == y).all()

    def test_zkey2_col_is_one_sql_string(self, spark):
        """The key is parsed from one SQL string: a handful of Py4J round
        trips, where a Column built node by node (and `F.lit` of the byte
        tables, one trip per element) made ~2,700."""
        from tests.conftest import py4j_calls
        from zcurve_spark.functions import columns as C

        _, calls = py4j_calls(lambda: C.zkey2_col("x", "y"))
        assert calls <= 20

    def test_key_builders_take_column_names(self, spark):
        from pyspark.sql import functions as F

        from zcurve_spark.functions import columns as C

        with pytest.raises(TypeError, match="column name"):
            C.zkey2_col(F.col("x"), "y")

    def test_zkey3(self, spark, rng):
        import pandas as pd

        from zcurve_spark.functions import columns as C

        n = 20_000
        x = rng.integers(0, 1 << 20, n, dtype=np.uint64)
        y = rng.integers(0, 1 << 20, n, dtype=np.uint64)
        z = rng.integers(0, 1 << 20, n, dtype=np.uint64)
        df = spark.createDataFrame(
            pd.DataFrame(
                {"x": x.astype(np.int64), "y": y.astype(np.int64), "z": z.astype(np.int64)}
            )
        )
        out = df.select(C.zkey3_col("x", "y", "z").alias("k")).toPandas()
        assert (out.k.to_numpy(np.uint64) == ck.zkey3(x, y, z)).all()

    def test_tile_prefix_property(self, spark, rng):
        """tile_id(zkey, L) == interleave(x >> s, y >> s) — the Morton
        prefix identity that makes tiles pure key arithmetic."""
        import pandas as pd

        from zcurve_spark.functions import columns as C

        n = 10_000
        bits, level = 20, 8
        s = bits - level
        x = rng.integers(0, 1 << bits, n, dtype=np.uint64)
        y = rng.integers(0, 1 << bits, n, dtype=np.uint64)
        df = spark.createDataFrame(
            pd.DataFrame({"x": x.astype(np.int64), "y": y.astype(np.int64)})
        )
        out = df.select(
            C.tile_id_col(C.zkey2_col("x", "y"), level, bits=bits).alias("t")
        ).toPandas()
        expect = ck.zkey2(x >> np.uint64(s), y >> np.uint64(s))
        assert (out.t.to_numpy(np.uint64) == expect).all()


class TestHilbert3:
    """3D Hilbert via Skilling's transpose algorithm (AIP Conf. Proc. 707,
    2004) — the 3D analog of TestHilbert."""

    def test_roundtrip(self, rng):
        x, y, z = (_rand(rng, 20) for _ in range(3))
        xd, yd, zd = ck.unhilbert3(ck.hilbert3(x, y, z, order=20), order=20)
        assert (xd == x).all() and (yd == y).all() and (zd == z).all()

    def test_bijective_small(self):
        """Every cell of a 16^3 cube maps to a distinct index in [0, 4096)."""
        g = np.arange(16, dtype=np.uint64)
        X, Y, Z = np.meshgrid(g, g, g)
        d = ck.hilbert3(X.ravel(), Y.ravel(), Z.ravel(), order=4)
        assert len(np.unique(d)) == 4096 and int(d.max()) == 4095

    def test_adjacency(self):
        """Consecutive curve positions are 3D grid neighbors (Manhattan
        distance exactly 1) — the locality property that makes the key
        range-partition-friendly."""
        d = np.arange(4096, dtype=np.uint64)
        x, y, z = ck.unhilbert3(d, order=4)
        man = (
            np.abs(np.diff(x.astype(np.int64)))
            + np.abs(np.diff(y.astype(np.int64)))
            + np.abs(np.diff(z.astype(np.int64)))
        )
        assert (man == 1).all()

    def test_int64_safe_at_order_20(self):
        m = np.array([(1 << 20) - 1], dtype=np.uint64)
        k = ck.hilbert3(m, m, m, order=20)
        assert int(k[0]) < 2**60
