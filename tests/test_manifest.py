"""Storage layer: sorted layout, manifest stats, file pruning (the Spark
analog of the B-tree descent), resumable stages, and the store-backed
lookups and kNN over it."""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from zcurve_spark.functions.udfs import hilbert2_udf, hilbert3_udf
from zcurve_spark.plans.decompose import decompose_box, hilbert3_covers, hilbert_covers
from zcurve_spark.sources.manifest import (
    MANIFEST_NAME,
    StageRunner,
    load_manifest,
    prune_files,
    read_pruned,
    write_sorted,
)
from zcurve_spark.sources.points import BITS, DOMAIN, points_from_lineitem
from tests.conftest import brute_knn, codegen_compiles, jobs_run, py4j_calls

SF_DIR = "/root/testdata/sf0.001"
MAXC = (1 << BITS) - 1  # largest coordinate the keys encode
COVERS = {
    "z": lambda a, b: decompose_box(a, b, bits=BITS, budget=128),
    "hilbert": lambda a, b: hilbert_covers(a, b, order=BITS, budget=128),
    "hilbert3": lambda a, b: hilbert3_covers(a, b, order=BITS, budget=128),
}
# Boxes in the last 8192^d keys of each curve: beyond the data's [0, 10^6)
# coordinates, so every file is pruned.  Z ends at the all-max corner,
# both Hilbert curves at (max, 0[, 0]).
PRUNE_ALL = {
    "z": ((MAXC - 8191, MAXC - 8191), (MAXC, MAXC)),
    "hilbert": ((MAXC - 8191, 0), (MAXC, 8191)),
    "hilbert3": ((MAXC - 8191, 0, 0), (MAXC, 8191, 8191)),
}


@pytest.fixture(scope="module")
def sorted_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "points_sorted")
    pts = points_from_lineitem(spark, SF_DIR)
    write_sorted(pts, path, zkey_col="zkey", n_partitions=8, lineage={"stage": "t"})
    return path


@pytest.fixture(scope="module")
def curve_stores(spark, sorted_path, tmp_path_factory):
    """{curve: (store path, key column, coordinate columns)} over the same
    points: the zkey store plus hkey- and hkey3-sorted stores."""
    root = tmp_path_factory.mktemp("curve_stores")
    pts = points_from_lineitem(spark, SF_DIR)
    h2, h3 = str(root / "points_hsorted"), str(root / "points_h3sorted")
    write_sorted(
        pts.withColumn("hkey", hilbert2_udf(BITS)(F.col("x"), F.col("y"))),
        h2, zkey_col="hkey", n_partitions=8, lineage={"stage": "h"},
    )
    write_sorted(
        pts.withColumn("hkey3", hilbert3_udf(BITS)(F.col("x"), F.col("y"), F.col("z"))),
        h3, zkey_col="hkey3", n_partitions=8, lineage={"stage": "h3"},
    )
    return {
        "z": (sorted_path, "zkey", ("x", "y")),
        "hilbert": (h2, "hkey", ("x", "y")),
        "hilbert3": (h3, "hkey3", ("x", "y", "z")),
    }


def _lookup_boxes(ndims: int, point) -> list[tuple[tuple, tuple]]:
    """20 seeded random boxes, then a box touching both domain edges, the
    single-point box at `point` and an inverted (empty) box."""
    rng = np.random.default_rng(1017 + ndims)
    boxes = []
    for _ in range(20):
        side = rng.integers(0, 300_000, ndims)
        lo = rng.integers(0, DOMAIN - side)
        boxes.append((tuple(int(v) for v in lo), tuple(int(v) for v in lo + side)))
    point = tuple(int(v) for v in point)
    return boxes + [
        ((0, 800_000, 0)[:ndims], (150_000, MAXC, MAXC)[:ndims]),
        (point, point),
        ((500_000,) * ndims, (400_000,) + (600_000,) * (ndims - 1)),
    ]


def test_manifest_stats(spark, sorted_path):
    m = load_manifest(sorted_path)
    assert m["total_rows"] == points_from_lineitem(spark, SF_DIR).count()
    files = m["files"]
    assert len(files) == 8
    # range partitioning -> non-overlapping zkey ranges across files
    spans = sorted((f["zkey_min"], f["zkey_max"]) for f in files)
    for (a0, a1), (b0, b1) in zip(spans, spans[1:]):
        assert a1 <= b0


def test_pruning_correct_and_effective(spark, sorted_path):
    box = ((100_000, 100_000), (150_000, 160_000))
    ivs = decompose_box(*box, bits=BITS, budget=16)
    m = load_manifest(sorted_path)
    kept = prune_files(m, ivs)
    assert 0 < len(kept) < len(m["files"]), "pruning should drop some files"
    full = spark.read.parquet(sorted_path)
    pruned = read_pruned(spark, sorted_path, ivs)
    pred = F.col("x").between(box[0][0], box[1][0]) & F.col("y").between(box[0][1], box[1][1])
    assert sorted(r.pid for r in pruned.filter(pred).collect()) == sorted(
        r.pid for r in full.filter(pred).collect()
    )


def test_stage_runner_resume(spark, tmp_path):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return points_from_lineitem(spark, SF_DIR)

    sr = StageRunner(spark, str(tmp_path / "stages"))
    df1 = sr.run("pts", "fp-v1", build)
    n1 = df1.count()
    df2 = sr.run("pts", "fp-v1", build)  # same fingerprint -> resume
    assert calls["n"] == 1
    assert df2.count() == n1
    sr.run("pts", "fp-v2", build)  # changed input -> recompute
    assert calls["n"] == 2


def test_bbox_lookup_pruned_equals_fullscan(spark, sorted_path, curve_stores):
    """The flagship claim: on every curve the pruned-storage query path
    returns exactly the full-scan result (as a multiset), pid-sorted."""
    from zcurve_spark.operators.bbox import bbox_lookup, bbox_lookup_pruned

    full = spark.read.parquet(sorted_path)
    first = full.first()
    refs = {}
    for curve, (path, key, cols) in curve_stores.items():
        assert prune_files(load_manifest(path), COVERS[curve](*PRUNE_ALL[curve])) == []
        for mins, maxs in _lookup_boxes(len(cols), [first[c] for c in cols]) + [PRUNE_ALL[curve]]:
            if (mins, maxs) not in refs:
                ref = bbox_lookup(
                    full, mins, maxs, zkey_col="zkey3" if len(cols) == 3 else "zkey",
                    coord_cols=cols, bits=BITS,
                )
                refs[mins, maxs] = sorted(map(tuple, ref.collect()))
            got = bbox_lookup_pruned(
                spark, path, mins, maxs, coord_cols=cols, bits=BITS, curve=curve
            ).collect()
            assert sorted(map(tuple, got)) == refs[mins, maxs], (curve, mins, maxs)
            assert [r.pid for r in got] == sorted(r.pid for r in got), (curve, mins, maxs)
    point_boxes = [b for b in refs if b[0] == b[1]]
    assert point_boxes and all(refs[b] for b in point_boxes)
    assert sum(map(len, refs.values())) > 0


def test_lookups_share_curve_dispatch(spark, curve_stores):
    """bbox_lookup and bbox_lookup_pruned decompose a box by the same
    `curve` rule: over each curve's store they return the same rows, and
    an unknown curve raises in both, naming it."""
    from zcurve_spark.operators.bbox import bbox_lookup, bbox_lookup_pruned

    for curve, (path, key, cols) in curve_stores.items():
        mins, maxs = _lookup_boxes(len(cols), (0,) * len(cols))[0]
        kw = dict(coord_cols=cols, bits=BITS, curve=curve)
        mem = bbox_lookup(spark.read.parquet(path), mins, maxs, zkey_col=key, **kw).collect()
        mem = sorted(map(tuple, mem))
        assert mem == sorted(map(tuple, bbox_lookup_pruned(spark, path, mins, maxs, **kw).collect())), curve
        assert mem, curve
    path, key, _ = curve_stores["hilbert"]
    pts = spark.read.parquet(path)
    for bad in ("Hilbert", "z2"):
        with pytest.raises(ValueError, match=f"curve={bad!r}"):
            bbox_lookup(pts, (0, 0), (9, 9), zkey_col=key, bits=BITS, curve=bad)
        with pytest.raises(ValueError, match=f"curve={bad!r}"):
            bbox_lookup_pruned(spark, path, (0, 0), (9, 9), bits=BITS, curve=bad)


def test_bbox_lookup_pruned_runs_one_job(spark, sorted_path):
    """Building the lookup runs no Spark job (no schema inference, no
    sampling); answering it runs exactly one, whether the box reads one
    file or two."""
    from zcurve_spark.operators.bbox import bbox_lookup_pruned

    m = load_manifest(sorted_path)
    for box, files in [
        (((100_000, 100_000), (110_000, 110_000)), 1),
        (((100_000, 100_000), (220_000, 330_000)), 2),
    ]:
        assert len(prune_files(m, COVERS["z"](*box))) == files
        df, plan_jobs = jobs_run(spark, lambda: bbox_lookup_pruned(spark, sorted_path, *box, bits=BITS))
        assert plan_jobs == 0
        rows, exec_jobs = jobs_run(spark, df.collect)
        assert exec_jobs == 1, (box, len(rows))


def test_lookup_with_a_new_box_compiles_nothing(spark, sorted_path):
    """A box's bounds are data, not code: after one warm lookup, a lookup
    with a different box (reading two files, not one) reuses every
    compiled class."""
    from zcurve_spark.operators.bbox import bbox_lookup, bbox_lookup_pruned

    bbox_lookup_pruned(spark, sorted_path, (100_000, 100_000), (110_000, 110_000), bits=BITS).collect()
    box = ((100_123, 100_456), (220_789, 330_012))
    rows, compiled = codegen_compiles(
        spark, lambda: bbox_lookup_pruned(spark, sorted_path, *box, bits=BITS).collect()
    )
    assert compiled == 0
    want = bbox_lookup(spark.read.parquet(sorted_path), *box, bits=BITS).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, want)) and rows


def test_lookup_off_the_domain_names_the_box(spark, sorted_path):
    from zcurve_spark.operators.bbox import bbox_lookup_pruned

    with pytest.raises(ValueError, match=r"box \(\(-5, -5\), \(10, 10\)\) lies outside \[0, 2\^20\)"):
        bbox_lookup_pruned(spark, sorted_path, (-5, -5), (10, 10), bits=BITS)


def test_manifest_schema_round_trips(spark, sorted_path, tmp_path):
    """write_sorted records the schema; read_pruned opens pruned files
    (and builds the empty result) with it and runs no job doing so.  A
    manifest without a schema still reads the same rows, by inference."""
    m = load_manifest(sorted_path)
    written = StructType.fromJson(json.loads(m["schema"]))
    assert written == points_from_lineitem(spark, SF_DIR).schema
    ivs = COVERS["z"]((100_000, 100_000), (220_000, 330_000))
    fields = [(f.name, f.dataType) for f in written]
    df, jobs = jobs_run(spark, lambda: read_pruned(spark, sorted_path, ivs))
    assert jobs == 0
    assert [(f.name, f.dataType) for f in df.schema] == fields
    empty, jobs = jobs_run(spark, lambda: read_pruned(spark, sorted_path, []))
    assert jobs == 0
    assert [(f.name, f.dataType) for f in empty.schema] == fields
    rows, jobs = jobs_run(spark, empty.collect)
    assert (rows, jobs) == ([], 0)

    legacy = str(tmp_path / "legacy")
    shutil.copytree(sorted_path, legacy)
    del m["schema"]
    with open(os.path.join(legacy, MANIFEST_NAME), "w") as fh:
        json.dump(m, fh)
    got = read_pruned(spark, legacy, ivs)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, df.collect()))
    assert read_pruned(spark, legacy, []).columns == df.columns


def test_lookup_without_manifest_scans_whole_store(spark, sorted_path, tmp_path):
    """A store with no manifest prunes nothing: read_pruned reads it
    whole, and a lookup and a knn over it scan every file through the
    box test, still answering exactly."""
    from zcurve_spark.operators.bbox import bbox_lookup, bbox_lookup_pruned
    from zcurve_spark.operators.knn import knn

    bare = str(tmp_path / "bare")
    shutil.copytree(sorted_path, bare)
    os.remove(os.path.join(bare, MANIFEST_NAME))
    full = spark.read.parquet(sorted_path)
    assert read_pruned(spark, bare, COVERS["z"]((0, 0), (9, 9))).count() == full.count()
    box = ((100_000, 100_000), (220_000, 330_000))
    got = bbox_lookup_pruned(spark, bare, *box, bits=BITS).collect()
    want = bbox_lookup(full, *box, bits=BITS).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)) and want
    assert [r.pid for r in got] == sorted(r.pid for r in got)
    pdf = points_from_lineitem(spark, SF_DIR).toPandas()
    q = {"qid": 1, "qx": 300_000, "qy": 600_000, "k": 4}
    g = knn(None, [q], bits=BITS, domain=DOMAIN, store_path=bare, spark=spark).toPandas()
    assert list(map(tuple, g[["pid", "x", "y", "d2"]].values.tolist())) == brute_knn(pdf, q)


@pytest.fixture(scope="module")
def quoted_store(spark, tmp_path_factory):
    """A zkey store whose key column, `z key`, needs quoting in SQL."""
    path = str(tmp_path_factory.mktemp("quoted") / "points_sorted")
    pts = points_from_lineitem(spark, SF_DIR).withColumnRenamed("zkey", "z key")
    write_sorted(pts, path, zkey_col="z key", n_partitions=4)
    return path


def test_bbox_lookup_pruned_quotes_identifiers(spark, sorted_path, quoted_store):
    """The lookup predicate is one SQL string that names only the
    coordinates: a store whose key column needs quoting answers exactly
    (the manifest's key ranges prune its files)."""
    from zcurve_spark.operators.bbox import bbox_lookup, bbox_lookup_pruned

    box = ((100_000, 100_000), (220_000, 330_000))
    got = bbox_lookup_pruned(spark, quoted_store, *box, bits=BITS).collect()
    want = bbox_lookup(spark.read.parquet(sorted_path), *box, bits=BITS).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(want) > 0


def test_knn_quotes_identifiers(spark, quoted_store):
    """knn's round predicate is one SQL string too, naming only the
    coordinates: the `z key` store answers exactly."""
    from zcurve_spark.operators.knn import knn

    pdf = points_from_lineitem(spark, SF_DIR).toPandas()
    qs = [{"qid": 3, "qx": 250_000, "qy": 750_000, "k": 5}, {"qid": 4, "qx": 900_000, "qy": 10, "k": 3}]
    got = knn(
        None, qs, bits=BITS, domain=DOMAIN, store_path=quoted_store, spark=spark
    ).toPandas()
    for q in qs:
        g = got[got.qid == q["qid"]].sort_values("rank")
        assert list(map(tuple, g[["pid", "x", "y", "d2"]].values.tolist())) == brute_knn(pdf, q), q


def test_knn_store_path_matches_inmemory(spark, sorted_path):
    """knn(store_path=...) must return the same top-k as the in-memory
    scan path, while reading only manifest-pruned files per round."""
    from zcurve_spark.operators.knn import knn
    from zcurve_spark.sources.points import DOMAIN

    qs = [{"qid": i, "qx": 100_000 + i * 311_111, "qy": 50_000 + i * 271_111, "k": 4} for i in range(3)]
    pts = points_from_lineitem(spark, SF_DIR)
    a = knn(pts, qs, bits=BITS, domain=DOMAIN).collect()
    b = knn(None, qs, bits=BITS, domain=DOMAIN, store_path=sorted_path, spark=spark).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == sum(q["k"] for q in qs)


def test_knn_round_is_one_job(spark, sorted_path):
    """A one-round store-backed knn runs one Spark job from call to
    return, and collecting its result runs none."""
    from zcurve_spark.operators.knn import knn

    pdf = points_from_lineitem(spark, SF_DIR).toPandas()
    q = {"qid": 0, "qx": 480_000, "qy": 520_000, "k": 4}
    df, jobs = jobs_run(
        spark, lambda: knn(None, [q], bits=BITS, domain=DOMAIN, store_path=sorted_path, spark=spark)
    )
    assert jobs == 1
    rows, jobs = jobs_run(spark, df.collect)
    assert jobs == 0
    rows.sort(key=lambda r: r["rank"])
    assert [(r["pid"], r["x"], r["y"], r["d2"]) for r in rows] == brute_knn(pdf, q)


def test_knn_round_py4j_calls(spark, sorted_path):
    """A one-round store-backed knn is the box lookup's scan collected
    through Arrow and ranked on the driver: a bounded number of Py4J
    round trips, not one per node of a generator and window plan."""
    from zcurve_spark.operators.knn import knn

    q = {"qid": 0, "qx": 480_000, "qy": 520_000, "k": 4}

    def run():
        return knn(None, [q], bits=BITS, domain=DOMAIN, store_path=sorted_path, spark=spark)

    run()  # warm the Arrow conversion imports
    df, calls = py4j_calls(run)
    assert df.count() == 4
    assert calls <= 150


def _knn_queries(n: int, seed: int) -> list[dict]:
    """`n` seeded queries inside the domain, k from 1 to 8."""
    rng = np.random.default_rng(seed)
    xy = rng.integers(0, DOMAIN, (n, 2))
    k = rng.integers(1, 9, n)
    return [{"qid": i, "qx": int(x), "qy": int(y), "k": int(kk)} for i, ((x, y), kk) in enumerate(zip(xy, k))]


def test_knn_rounds_with_new_queries_compile_nothing(spark, sorted_path):
    """After one warm knn round, rounds over 1 and over 24 new queries
    (new bounds, more boxes) compile no class, store-backed or in
    memory."""
    from zcurve_spark.operators.knn import knn

    pts = points_from_lineitem(spark, SF_DIR)
    for src in ({"points": None, "store_path": sorted_path, "spark": spark}, {"points": pts}):
        def run(qs):
            return knn(queries=qs, bits=BITS, domain=DOMAIN, **src).collect()

        run([{"qid": 0, "qx": 480_000, "qy": 520_000, "k": 4}])
        for qs in ([{"qid": 1, "qx": 123_456, "qy": 654_321, "k": 3}], _knn_queries(24, 1019)):
            rows, compiled = codegen_compiles(spark, lambda: run(qs))
            assert compiled == 0, (list(src), len(qs))
            assert len(rows) == sum(q["k"] for q in qs)


def test_knn_24_queries_match_brute_force(spark, sorted_path):
    """A 24-query store-backed knn ranks every query's neighbours exactly."""
    from zcurve_spark.operators.knn import knn

    pdf = points_from_lineitem(spark, SF_DIR).toPandas()
    qs = _knn_queries(24, 1020)
    got = knn(None, qs, bits=BITS, domain=DOMAIN, store_path=sorted_path, spark=spark).toPandas()
    for q in qs:
        g = got[got.qid == q["qid"]].sort_values("rank")
        assert list(map(tuple, g[["pid", "x", "y", "d2"]].values.tolist())) == brute_knn(pdf, q), q


@pytest.mark.parametrize("quoted", [False, True])
def test_knn_batch_local_store_matches_brute_force(spark, sorted_path, quoted_store, quoted):
    """knn_batch's driver form over a store (files pruned on the driver,
    the key column quoted) gives knn's answer; collecting it runs no job."""
    import pandas as pd

    from zcurve_spark.operators.knn import knn_batch

    path, key = (quoted_store, "z key") if quoted else (sorted_path, "zkey")
    pdf = points_from_lineitem(spark, SF_DIR).toPandas()
    qs = [{"qid": i, "qx": 100_000 + i * 311_111, "qy": 50_000 + i * 271_111, "k": 2 + i} for i in range(3)]
    qs.append({"qid": 7, "qx": 0, "qy": DOMAIN - 1, "k": 9})
    qdf = spark.createDataFrame(pd.DataFrame(qs))
    got = knn_batch(qdf, store_path=path, zkey_col=key, bits=BITS, domain=DOMAIN)
    rows, jobs = jobs_run(spark, got.collect)
    assert jobs == 0
    for q in qs:
        mine = sorted((r["rank"], r["pid"], r["x"], r["y"], r["d2"]) for r in rows if r["qid"] == q["qid"])
        assert [t[1:] for t in mine] == brute_knn(pdf, q), q


@pytest.mark.parametrize("quoted", [False, True])
def test_knn_batch_distributed_store_matches_brute_force(spark, sorted_path, quoted_store, quoted, monkeypatch):
    """knn_batch's distributed form (the driver-form limit patched to 0)
    over a store, the key column quoted or not, gives brute force's
    answer."""
    from zcurve_spark.operators import bbox
    from zcurve_spark.operators.knn import knn_batch

    monkeypatch.setattr(bbox, "_DRIVER_BOXES", 0)
    path, key = (quoted_store, "z key") if quoted else (sorted_path, "zkey")
    pdf = points_from_lineitem(spark, SF_DIR).toPandas()
    qs = [{"qid": i, "qx": 100_000 + i * 311_111, "qy": 50_000 + i * 271_111, "k": 2 + i} for i in range(3)]
    qs.append({"qid": 7, "qx": 0, "qy": DOMAIN - 1, "k": 9})
    qdf = spark.createDataFrame([tuple(q.values()) for q in qs], "qid long, qx long, qy long, k int")
    rows = knn_batch(qdf, store_path=path, zkey_col=key, bits=BITS, domain=DOMAIN).collect()
    for q in qs:
        mine = sorted((r["rank"], r["pid"], r["x"], r["y"], r["d2"]) for r in rows if r["qid"] == q["qid"])
        assert [t[1:] for t in mine] == brute_knn(pdf, q), q


def test_prune_files_matches_overlap_test(sorted_path):
    """Interval objects, (lo, hi) pairs and a frame of intervals all prune
    to the files whose [zkey_min, zkey_max] overlaps some interval."""
    import pandas as pd

    m = load_manifest(sorted_path)
    rng = np.random.default_rng(5)
    batches = [[], COVERS["z"](*PRUNE_ALL["z"]), COVERS["z"]((0, 0), (MAXC, MAXC))]
    for _ in range(20):
        lo = rng.integers(0, 1_000_000, 2)
        hi = np.minimum(lo + rng.integers(0, 200_000, 2), MAXC)
        batches.append(COVERS["z"](tuple(lo.tolist()), tuple(hi.tolist())))
    batches.append([iv for b in batches[3:8] for iv in b])
    for ivs in batches:
        want = [
            f["file"]
            for f in m["files"]
            if f["zkey_min"] is not None
            and any(f["zkey_min"] <= iv.hi and f["zkey_max"] >= iv.lo for iv in ivs)
        ]
        pairs = [(iv.lo, iv.hi) for iv in ivs]
        frame = pd.DataFrame(pairs, columns=["lo", "hi"], dtype=np.int64)
        assert prune_files(m, ivs) == prune_files(m, pairs) == prune_files(m, frame) == want


def test_hilbert_store_pruned_lookup(spark, curve_stores):
    """Curve-agnostic storage: an hkey-sorted layout + hilbert_covers
    intervals returns the same box rows as the coordinate predicate."""
    from zcurve_spark.operators.bbox import bbox_lookup_pruned

    path = curve_stores["hilbert"][0]
    box = ((200_000, 300_000), (420_000, 500_000))
    got = bbox_lookup_pruned(
        spark, path, box[0], box[1], bits=BITS, curve="hilbert"
    ).collect()
    exp = (
        points_from_lineitem(spark, SF_DIR)
        .filter(F.col("x").between(*[box[0][0], box[1][0]]) & F.col("y").between(box[0][1], box[1][1]))
        .select("pid", "x", "y")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
    assert len(exp) > 0
    # and the manifest actually prunes files for a small box
    ivs = hilbert_covers((200_000, 300_000), (230_000, 330_000), order=BITS, budget=64)
    m = load_manifest(path)
    assert 0 < len(prune_files(m, ivs)) < len(m["files"])


def test_hilbert3_store_pruned_lookup(spark, curve_stores):
    """The last cell of the curve x storage matrix (r3 VERDICT missing
    #3): an hkey3-sorted layout + octree-cover intervals returns the
    same 3D box rows as the coordinate predicate, with files pruned."""
    from zcurve_spark.operators.bbox import bbox_lookup_pruned

    path = curve_stores["hilbert3"][0]
    box = ((200_000, 300_000, 0), (420_000, 500_000, 600_000))
    got = bbox_lookup_pruned(
        spark,
        path,
        box[0],
        box[1],
        coord_cols=("x", "y", "z"),
        bits=BITS,
        curve="hilbert3",
    ).collect()
    exp = (
        points_from_lineitem(spark, SF_DIR)
        .filter(
            F.col("x").between(box[0][0], box[1][0])
            & F.col("y").between(box[0][1], box[1][1])
            & F.col("z").between(box[0][2], box[1][2])
        )
        .select("pid", "x", "y", "z")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
    assert len(exp) > 0
    # octree covers must actually prune files on a small box
    ivs = hilbert3_covers(
        (200_000, 300_000, 100_000), (230_000, 330_000, 200_000), order=BITS, budget=64
    )
    m = load_manifest(path)
    assert 0 < len(prune_files(m, ivs)) < len(m["files"])


class TestCoordinateStats:
    """`write_sorted` records per-dimension coordinate min-max and byte
    sizes in the manifest (the Iceberg-column-stats analog); files are
    pruned by their key ranges (`prune_files`), and perfbench reads each
    file's `bytes`."""

    def test_write_sorted_records_coord_stats_and_bytes(self, spark, sorted_path):
        m = load_manifest(sorted_path)
        for f in m["files"]:
            assert f["bytes"] > 0
            assert "x" in f["stats"] and "y" in f["stats"]
            assert f["stats"]["x"]["min"] <= f["stats"]["x"]["max"]


class TestStoreParallelism:
    def test_manifest_carries_target_parallelism(self, spark, tmp_path):
        from zcurve_spark.sources.manifest import load_manifest, write_sorted

        df = spark.range(1000).selectExpr("id as zkey", "id as v")
        write_sorted(df, str(tmp_path / "s"), n_partitions=8)
        m = load_manifest(str(tmp_path / "s"))
        assert m["target_parallelism"] == 8

    def test_read_store_restores_declared_parallelism(self, spark, tmp_path):
        """A store compacted below its declared parallelism is scaled
        back up by read_store — one source of truth (r2 VERDICT #10)."""
        import json
        import os

        from zcurve_spark.sources.manifest import MANIFEST_NAME, load_manifest, write_sorted
        from zcurve_spark.sources.store import read_store

        p = str(tmp_path / "s2")
        df = spark.range(1000).selectExpr("id as zkey", "id as v")
        write_sorted(df, p, n_partitions=2)
        # simulate an externally-compacted layout claiming higher target
        m = load_manifest(p)
        m["target_parallelism"] = 16
        with open(os.path.join(p, MANIFEST_NAME), "w") as fh:
            json.dump(m, fh)
        out = read_store(spark, p)
        assert out.rdd.getNumPartitions() >= 16
        assert out.count() == 1000

    def test_table_store_resumes(self, spark, tmp_path, monkeypatch):
        import os

        monkeypatch.setenv("SPARK_GRAFT_WORK_DIR", str(tmp_path))
        from zcurve_spark.sources.manifest import load_manifest
        from zcurve_spark.sources.store import read_store, table_store

        p1 = table_store(spark, "/root/testdata/sf0.001", "documents", sort_col="doc_id")
        t1 = os.path.getmtime(os.path.join(p1, "_zcurve_manifest.json"))
        p2 = table_store(spark, "/root/testdata/sf0.001", "documents", sort_col="doc_id")
        assert p1 == p2
        assert os.path.getmtime(os.path.join(p2, "_zcurve_manifest.json")) == t1  # resumed
        n_raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").count()
        assert read_store(spark, p1).count() == n_raw
        assert load_manifest(p1)["zkey_col"] == "doc_id"
