"""tile_pyramid (multi-resolution rollup) + tile_counts_incremental
(snapshot-store continuous aggregate).

Rollup identity: a level-L slice of the pyramid must equal the direct
level-L aggregation of the raw rows — decomposable aggs (count/sum/
min/max) commute with prefix coarsening, so the single-raw-shuffle plan
is exact, not approximate.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from zcurve_spark.functions.columns import zkey2_col
from zcurve_spark.operators.tiles import (
    tile_counts,
    tile_counts_incremental,
    tile_pyramid,
)
from zcurve_spark.sources.snapshots import SnapshotStore

BITS = 10


def _pts(spark, lo, hi):
    return (
        spark.range(lo, hi)
        .select(
            F.col("id").alias("pid"),
            (F.col("id") * 37 % 1024).alias("x"),
            (F.col("id") * 91 % 1024).alias("y"),
            (F.col("id") * 13 % 997).alias("v"),
        )
        .withColumn("zkey", zkey2_col("x", "y"))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestTilePyramid:
    def test_each_level_matches_direct_aggregation(self, spark):
        pts = _pts(spark, 0, 5000)
        pyr = tile_pyramid(pts, levels=(2, 4, 6), bits=BITS).collect()
        by_level = {}
        for r in pyr:
            by_level.setdefault(r["level"], []).append((r["tile_id"], r["n"]))
        assert sorted(by_level) == [2, 4, 6]
        for lv in (2, 4, 6):
            direct = _rows(tile_counts(pts, lv, bits=BITS))
            assert sorted(by_level[lv]) == direct

    def test_value_stats_roll_up_exactly(self, spark):
        from zcurve_spark.functions.columns import tile_id_col

        pts = _pts(spark, 0, 5000)
        pyr = tile_pyramid(pts, levels=(3, 5), bits=BITS, value_col="v")
        for lv in (3, 5):
            got = _rows(
                pyr.filter(F.col("level") == lv).select(
                    "tile_id", "n", "sum_v", "min_v", "max_v"
                )
            )
            want = _rows(
                pts.withColumn("tile_id", tile_id_col("zkey", lv, bits=BITS))
                .groupBy("tile_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("v").alias("sum_v"),
                    F.min("v").alias("min_v"),
                    F.max("v").alias("max_v"),
                )
            )
            assert got == want

    def test_single_level_equals_tile_counts(self, spark):
        pts = _pts(spark, 0, 2000)
        pyr = tile_pyramid(pts, levels=(4,), bits=BITS)
        assert _rows(pyr.select("tile_id", "n")) == _rows(
            tile_counts(pts, 4, bits=BITS)
        )

    def test_single_scan_single_finest_aggregation(self, spark, tmp_path):
        # r6 plan shape: the explode rollup evaluates every aggregate
        # exactly once — ONE scan of the raw table, ONE Generate, and
        # exactly two shuffle exchanges (raw -> finest agg, exploded
        # (level, tile) -> rollup agg).  The previous union-of-branches
        # form shared only the raw exchange (ReuseExchange) while the
        # finest reduce-side aggregation re-ran once per level.
        p = str(tmp_path / "pts")
        _pts(spark, 0, 20000).write.parquet(p)
        pyr = tile_pyramid(spark.read.parquet(p), levels=(2, 4, 6), bits=BITS)
        pyr.collect()
        plan = pyr._jdf.queryExecution().executedPlan().toString()
        # the adaptive plan string appends the pre-AQE "Initial Plan";
        # assert on the executed Final Plan section only
        plan = plan.split("== Initial Plan ==")[0]
        assert plan.count("Scan parquet") == 1, plan
        assert plan.count("Generate explode") == 1, plan
        assert plan.count("Exchange hashpartitioning") == 2, plan
        assert "Union" not in plan, plan

    def test_plan_is_built_in_few_py4j_calls(self, spark):
        """The plan is one SQL statement over the input: a handful of Py4J
        round trips (at most 100 here), where the same plan built Column
        by Column made ~500."""
        from tests.conftest import py4j_calls

        pts = _pts(spark, 0, 100)
        _, calls = py4j_calls(lambda: tile_pyramid(pts, levels=(4, 8, 12), bits=20, value_col="v"))
        assert calls <= 100

    def test_empty_levels_raises(self, spark):
        with pytest.raises(ValueError):
            tile_pyramid(_pts(spark, 0, 10), levels=())


class TestTileCountsIncremental:
    def _state(self, state_dir):
        with open(os.path.join(state_dir, "state.json")) as fh:
            return json.load(fh)

    def test_incremental_merge_equals_full_recompute(self, spark, tmp_path):
        st = SnapshotStore(spark, str(tmp_path / "tbl"))
        sd = str(tmp_path / "state")
        st.commit(_pts(spark, 0, 3000), created_unix=10, n_partitions=2)
        tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        assert self._state(sd)["snapshot_id"] == 1
        st.commit(_pts(spark, 3000, 5000), created_unix=20, n_partitions=2)
        got = tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        want = tile_counts(_pts(spark, 0, 5000), 4, bits=BITS)
        assert _rows(got) == _rows(want)
        assert self._state(sd)["snapshot_id"] == 2

    def test_state_current_reads_without_table_scan(self, spark, tmp_path):
        st = SnapshotStore(spark, str(tmp_path / "tbl"))
        sd = str(tmp_path / "state")
        st.commit(_pts(spark, 0, 1000), created_unix=10, n_partitions=2)
        first = _rows(tile_counts_incremental(spark, st, sd, level=4, bits=BITS))

        def boom(*a, **k):  # any table access is a test failure
            raise AssertionError("state-current refresh touched the table")

        st.read = boom
        st.read_incremental = boom
        again = _rows(tile_counts_incremental(spark, st, sd, level=4, bits=BITS))
        assert again == first

    def test_rewrite_in_range_falls_back_to_full_recompute(self, spark, tmp_path):
        st = SnapshotStore(spark, str(tmp_path / "tbl"))
        sd = str(tmp_path / "state")
        st.commit(_pts(spark, 0, 2000), created_unix=10, n_partitions=2)
        tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        st.commit(_pts(spark, 2000, 3000), created_unix=20, n_partitions=2)
        st.compact(created_unix=30)  # replace snapshot: delta no longer = rows
        got = tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        assert _rows(got) == _rows(tile_counts(_pts(spark, 0, 3000), 4, bits=BITS))

    def test_level_change_rebuilds_state(self, spark, tmp_path):
        st = SnapshotStore(spark, str(tmp_path / "tbl"))
        sd = str(tmp_path / "state")
        st.commit(_pts(spark, 0, 1500), created_unix=10, n_partitions=2)
        tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        got = tile_counts_incremental(spark, st, sd, level=6, bits=BITS)
        assert _rows(got) == _rows(tile_counts(_pts(spark, 0, 1500), 6, bits=BITS))
        assert self._state(sd)["level"] == 6

    def test_level_change_with_new_snapshot_removes_old_state_dir(self, spark, tmp_path):
        # a level/bits rebuild must still drop the replaced state's data
        # dir, or it is orphaned once the snapshot advances
        st = SnapshotStore(spark, str(tmp_path / "tbl"))
        sd = str(tmp_path / "state")
        st.commit(_pts(spark, 0, 1000), created_unix=10, n_partitions=2)
        tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        st.commit(_pts(spark, 1000, 2000), created_unix=20, n_partitions=2)
        got = tile_counts_incremental(spark, st, sd, level=6, bits=BITS)
        assert _rows(got) == _rows(tile_counts(_pts(spark, 0, 2000), 6, bits=BITS))
        assert not os.path.exists(os.path.join(sd, "counts-s1"))
        assert os.path.exists(os.path.join(sd, "counts-s2"))

    def test_bits_change_rebuilds_state(self, spark, tmp_path):
        # ADVICE r5: bits changes the tile ids just like level; a state
        # cached under other bits must be rebuilt, not trusted
        st = SnapshotStore(spark, str(tmp_path / "tbl"))
        sd = str(tmp_path / "state")
        st.commit(_pts(spark, 0, 1500), created_unix=10, n_partitions=2)
        tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        got = tile_counts_incremental(spark, st, sd, level=4, bits=BITS - 2)
        assert _rows(got) == _rows(
            tile_counts(_pts(spark, 0, 1500), 4, bits=BITS - 2)
        )
        assert self._state(sd)["bits"] == BITS - 2

    def test_old_state_dir_cleaned_after_swing(self, spark, tmp_path):
        st = SnapshotStore(spark, str(tmp_path / "tbl"))
        sd = str(tmp_path / "state")
        st.commit(_pts(spark, 0, 1000), created_unix=10, n_partitions=2)
        tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        st.commit(_pts(spark, 1000, 2000), created_unix=20, n_partitions=2)
        tile_counts_incremental(spark, st, sd, level=4, bits=BITS)
        assert not os.path.exists(os.path.join(sd, "counts-s1"))
        assert os.path.exists(os.path.join(sd, "counts-s2"))


class TestStreamingIngestToRollup:
    def test_stream_commits_then_incremental_refresh(self, spark, tmp_path):
        """The production chain end to end: files stream in ->
        exactly-once snapshot commits (foreach_batch_committer) ->
        tile_counts_incremental folds each new snapshot's delta into the
        materialized rollup — at no point is the full table re-scanned
        after the initial build."""
        import time

        from zcurve_spark.sources.snapshots import (
            SnapshotStore,
            foreach_batch_committer,
        )

        store = SnapshotStore(spark, str(tmp_path / "tbl"))
        sd = str(tmp_path / "state")
        src = str(tmp_path / "src")
        ck = str(tmp_path / "ck")
        _pts(spark, 0, 800).coalesce(1).write.mode("overwrite").parquet(src)
        time.sleep(1.1)
        _pts(spark, 800, 2000).coalesce(1).write.mode("append").parquet(src)
        schema = "pid long, x long, y long, v long, zkey long"

        def drain():
            q = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(
                    foreach_batch_committer(store, n_partitions=1)
                )
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)

        drain()  # two micro-batches -> snapshots v1, v2
        got = tile_counts_incremental(spark, store, sd, level=4, bits=BITS)
        assert _rows(got) == _rows(tile_counts(_pts(spark, 0, 2000), 4, bits=BITS))
        # late file arrives; resume commits ONE new snapshot, and the
        # refresh folds exactly that delta into the existing state
        _pts(spark, 2000, 2600).coalesce(1).write.mode("append").parquet(src)
        drain()

        full_reads = []
        orig_read = store.read

        def spy_read(*a, **k):
            full_reads.append(a)
            return orig_read(*a, **k)

        store.read = spy_read
        got = tile_counts_incremental(spark, store, sd, level=4, bits=BITS)
        assert _rows(got) == _rows(tile_counts(_pts(spark, 0, 2600), 4, bits=BITS))
        assert full_reads == []  # delta-only: no full-table scan
