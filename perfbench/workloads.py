"""The benchmark workloads and the harness that times their operations.

Every workload is a closed loop with one client: a *round* is a fixed list
of requests, each sent when the previous one has returned.  The first round
always completes, so every operation kind has samples; after that the loop
stops at the first request boundary past the deadline.  Each operation is
split into *plan* (call -> DataFrame returned) and *exec* (the action),
timed separately, and checked against a numpy oracle.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from zcurve_spark.functions.columns import tile_id_col, zkey2_col
from zcurve_spark.operators.bbox import (
    bbox_join_bucketed,
    bbox_lookup_pruned,
    bucketed_intervals_dist,
    count_hits,
)
from zcurve_spark.operators.knn import knn, knn_batch
from zcurve_spark.operators.pip import pip_join
from zcurve_spark.operators.tiles import tile_pyramid
from zcurve_spark.plans.decompose import coalesce_intervals, decompose_box
from zcurve_spark.sources.manifest import load_manifest, prune_files, write_sorted
from zcurve_spark.sources.store import read_store

from inputs import (
    BITS,
    DOMAIN,
    BOX_SIDES,
    PointOracle,
    convex_polygons,
    pyramid_checksums,
    random_boxes,
    random_queries,
    uniform_points,
    write_points,
)

# Input sizes (sized for a 4-core, 15 GB host; see README.md).
STORE_POINTS = 500_000  # points of the store both workloads read
STORE_FILES = 16  # files of the zkey-sorted store
BUDGET = 128  # bbox_lookup_pruned's default decomposition budget
KNN_K = 10
RAW_FILES = 8  # parquet files of the generated points (scan parallelism)
JOIN_BOXES = 2_000  # boxes per batch join
PROBE_BOXES = 3 * len(BOX_SIDES)  # boxes of a join batch probed one by one (traced runs)
KNN_QUERIES = 500  # queries per knn_batch
PIP_POLYGONS = 4  # polygons per pip_join
TILE_LEVELS = (4, 8, 12)


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q * 100))


def per_s(items: float, ms: float) -> float:
    """Throughput at a latency: ``items`` done every ``ms`` milliseconds.
    Rates are taken at median latencies so one slow request (a GC pause on
    a shared host) does not move them."""
    return items * 1000.0 / ms


def timings(name: str, ms: list[float]) -> dict:
    """p50 and p90 of one operation kind, with the sample count, and the
    highest percentile that has at least ten samples beyond it."""
    n = len(ms)
    out = {f"{name}_p50_ms": (percentile(ms, 0.5), f"ms (n={n})")}
    tail = 1.0 - 10.0 / n if n else 0.0
    if tail > 0.5:
        out[f"{name}_p{tail * 100:.0f}_ms"] = (percentile(ms, tail), f"ms (n={n}, highest percentile with 10 samples beyond)")
    beyond = "" if tail >= 0.9 else ", fewer than 10 samples beyond"
    out[f"{name}_p90_ms"] = (percentile(ms, 0.9), f"ms (n={n}{beyond})")
    return out


@dataclass
class OpRecord:
    op_id: int
    label: str
    layer: str
    seconds: float
    plan_s: float
    exec_s: float
    ok: bool
    measured: bool


class Harness:
    """Times and checks operations; owns the tracer and per-layer samples."""

    def __init__(self, spark, tracer, work: str):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.ops: list[OpRecord] = []
        self.measuring = False
        self.first_round_end = 0  # ops[:first_round_end] end with the first timed round
        self.samples: dict[str, list[float]] = {}

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))

    def op(self, label: str, layer: str, plan, execute, check):
        """Run one operation: plan() -> DataFrame, execute(df) -> result,
        check(result) -> bool.  Errors and wrong answers mark it failed."""
        op_id = len(self.ops)
        sc = self.spark.sparkContext
        if self.tr.enabled:
            sc.setJobGroup(f"op{op_id}", label)
        ok, result = False, None
        t0 = t1 = time.perf_counter()
        try:
            with self.tr.span(f"op.{label}", op_id):
                with self.tr.span(f"{layer}.plan"):
                    df = plan()
                t1 = time.perf_counter()
                with self.tr.span(f"{layer}.exec"):
                    result = execute(df)
            t2 = time.perf_counter()
            ok = bool(check(result))
            if not ok:
                print(f"perfbench: wrong answer from {label} (op {op_id})", file=sys.stderr)
        except Exception:
            t2 = time.perf_counter()
            traceback.print_exc()
        finally:
            if self.tr.enabled:
                sc.setJobGroup("untracked", "benchmark bookkeeping")
        self.ops.append(OpRecord(op_id, label, layer, t2 - t0, t1 - t0, t2 - t1, ok, self.measuring))
        return result if ok else None

    def measured(self, label: str | None = None) -> list[OpRecord]:
        return [o for o in self.ops if o.measured and (label is None or o.label == label)]

    def first_round(self) -> list[OpRecord]:
        """The first timed round: the same requests on every run of a seed,
        whatever the machine's speed."""
        return [o for o in self.ops[: self.first_round_end] if o.measured]

    def latencies_ms(self, label: str) -> list[float]:
        return [o.seconds * 1000 for o in self.measured(label)]

    # -- probes: driver-side calls into plans / sources / functions ---------
    def probe_box(self, store_path: str, mins, maxs, hits: int) -> None:
        """Decomposition and manifest pruning for one box, timed on the
        driver exactly as bbox_lookup_pruned calls them.  Spans carry the
        id of the operation just run."""
        op_id = self.ops[-1].op_id
        with self.tr.span("plans.decompose_box", op_id):
            t = time.perf_counter()
            ivs = decompose_box(tuple(mins), tuple(maxs), bits=BITS, budget=BUDGET)
            coalesce_intervals(ivs, max_intervals=6)
            self.sample("plans.decompose_ms", (time.perf_counter() - t) * 1000)
        self.sample("plans.intervals_per_box", len(ivs))
        self.sample("plans.solid_interval_share", sum(iv.solid for iv in ivs) / max(len(ivs), 1))
        with self.tr.span("sources.prune_files", op_id):
            t = time.perf_counter()
            m = load_manifest(store_path)
            names = set(prune_files(m, ivs))
            self.sample("sources.prune_ms", (time.perf_counter() - t) * 1000)
        kept = [f for f in m["files"] if f["file"] in names]
        self.sample("sources.files_read", len(kept))
        self.sample("sources.files_total", len(m["files"]))
        self.sample("sources.bytes_read", sum(f.get("bytes", 0) for f in kept))
        self.sample("sources.rows_read", sum(f["rows"] for f in kept))
        self.sample("sources.rows_hit", hits)

    def probe_encode(self, df) -> None:
        """functions layer alone: zkey2_col + tile_id_col over the
        workload's points with a cheap global sum (no shuffle of rows)."""
        z = zkey2_col("x", "y")
        q = df.select(F.sum(z).alias("z"), F.sum(tile_id_col(z, 12, bits=BITS)).alias("t"))
        n = df.count()
        q.collect()  # warm: plan + codegen
        with self.tr.span("functions.encode_probe"):
            t = time.perf_counter()
            q.collect()
            self.sample("functions.encode_rows_per_s", n / (time.perf_counter() - t))


class Workload:
    """A closed-loop workload over one seeded point store: points ->
    parquet -> zkey-sorted, manifested store (sources.write_sorted)."""

    name = ""
    reps = 3  # set-ups per run; setup_s reports their median
    warm_rounds = 1
    round_mix: dict[str, int] = {}  # operation label -> occurrences per round
    roles: tuple[str, str] = ("", "")  # labels behind op_p50_ms and op2_p50_ms

    def __init__(self, h: Harness, seed: int):
        self.h = h
        self.spark = h.spark
        self.seed = seed
        self.rng = np.random.default_rng([seed, 1])  # requests of the loop

    def prepare(self, rep: int) -> None:
        """One set-up into fresh directories; the previous one is removed."""
        self.pts = uniform_points(np.random.default_rng([self.seed, 0]), STORE_POINTS)
        raw = self.path(f"raw{rep}")
        os.makedirs(raw)
        for i, part in enumerate(np.array_split(np.arange(STORE_POINTS), RAW_FILES)):
            write_points(os.path.join(raw, f"part-{i:03d}.parquet"), {c: a[part] for c, a in self.pts.items()})
        df = self.spark.read.parquet(raw).select("pid", "x", "y", zkey2_col("x", "y"))
        t = time.perf_counter()
        write_sorted(df, self.path(f"store{rep}"), n_partitions=STORE_FILES)
        self.h.sample("sources.write_s", time.perf_counter() - t)
        if rep:
            shutil.rmtree(self.path(f"store{rep - 1}"))
            shutil.rmtree(self.path(f"raw{rep - 1}"))
        self.store, self.raw = self.path(f"store{rep}"), raw

    def build_oracle(self) -> None:
        self.oracle = PointOracle(self.pts)

    def round(self, warm: bool = False) -> list:
        """One round of requests, as callables run in order."""
        raise NotImplementedError

    def warm(self) -> None:
        for _ in range(self.warm_rounds):
            for request in self.round(warm=True):
                request()

    def run(self, seconds: float) -> float:
        """The timed closed loop; returns its wall time."""
        start = time.perf_counter()
        deadline = start + seconds
        first = True
        while first or time.perf_counter() < deadline:
            for request in self.round():
                if not first and time.perf_counter() >= deadline:
                    break
                request()
            if first:
                self.h.first_round_end = len(self.h.ops)
            first = False
        return time.perf_counter() - start

    def probe(self) -> None:
        """Traced runs only, after the timed loop: the distributed
        decomposition of a seeded box batch (warm, then timed) and the
        encode kernels over the workload's points."""
        bdf = self.spark.createDataFrame(pd.DataFrame(random_boxes(self.rng, JOIN_BOXES)))
        ivs, _ = bucketed_intervals_dist(bdf, bits=BITS)
        ivs.count()
        with self.h.tr.span("plans.bucketed_intervals_dist"):
            t = time.perf_counter()
            ivs.count()
            self.h.sample("plans.dist_decompose_s", time.perf_counter() - t)
        self.h.probe_encode(self.spark.read.parquet(self.raw))

    def round_ms(self) -> float:
        """Time of one round at each kind's median latency."""
        return sum(percentile(self.h.latencies_ms(label), 0.5) * k for label, k in self.round_mix.items())

    def slots(self) -> dict:
        """The end-to-end metrics, under the names every workload shares."""
        op, op2 = (percentile(self.h.latencies_ms(label), 0.5) for label in self.roles)
        return {"op_p50_ms": op, "op2_p50_ms": op2, "round_ms": self.round_ms(), "items_per_s": self.rate()}

    def rate(self) -> float:
        """Work done per second (``items_per_s``)."""
        raise NotImplementedError

    def report(self) -> dict:
        """Named metrics for the report: name -> (value, unit and size)."""
        raise NotImplementedError

    def path(self, name: str) -> str:
        return os.path.join(self.h.work, name)

    def knn_check(self, rows, queries: dict) -> bool:
        got: dict[int, list[int]] = {}
        for r in rows:
            got.setdefault(r["qid"], []).append(r["d2"])
        for i, qid in enumerate(queries["qid"].tolist()):
            want = self.oracle.knn_d2(int(queries["qx"][i]), int(queries["qy"][i]), int(queries["k"][i]))
            if sorted(got.get(qid, [])) != want:
                return False
        return True


class Lookup(Workload):
    """Interactive path: single-box lookups and single-query kNN."""

    name = "lookup"
    round_mix = {"box": 2 * len(BOX_SIDES), "knn1": 1}
    roles = ("box", "knn1")
    warm_rounds = 2  # latencies still fall over the first rounds after one

    def box_op(self, side: int) -> None:
        x0, y0 = (int(v) for v in self.rng.integers(0, DOMAIN - side, 2))
        mins, maxs = (x0, y0), (x0 + side, y0 + side)
        want = self.oracle.box(x0, y0, x0 + side, y0 + side)
        rows = self.h.op(
            "box",
            "operators.bbox_lookup_pruned",
            lambda: bbox_lookup_pruned(self.spark, self.store, mins, maxs, bits=BITS),
            lambda df: df.collect(),
            lambda rows: (len(rows), sum(r["pid"] for r in rows)) == want,
        )
        if self.h.tr.enabled and rows is not None:
            self.h.probe_box(self.store, mins, maxs, len(rows))

    def knn_op(self) -> None:
        q = random_queries(self.rng, 1, KNN_K)
        qd = {"qid": 0, "qx": int(q["qx"][0]), "qy": int(q["qy"][0]), "k": KNN_K}
        self.h.op(
            "knn1",
            "operators.knn",
            lambda: knn(None, [qd], store_path=self.store, spark=self.spark, bits=BITS),
            lambda df: df.collect(),
            lambda rows: self.knn_check(rows, q),
        )

    def round(self, warm: bool = False) -> list:
        """Two boxes of each side per kNN query: box latencies spread more
        than kNN latencies, so their median needs more samples."""
        return [lambda s=s: self.box_op(s) for s in BOX_SIDES * 2] + [self.knn_op]

    def rate(self) -> float:
        return per_s(sum(self.round_mix.values()), self.round_ms())

    def report(self):
        return {
            **timings("box", self.h.latencies_ms("box")),
            **timings("knn1", self.h.latencies_ms("knn1")),
            "lookups_per_s": (self.rate(), "requests/s, 1 client"),
        }


class BatchJoin(Workload):
    """Set-oriented path over the same store: a gentest-shaped box batch, a
    kNN batch, a point-in-polygon join, and a tile rollup of the generated
    coordinates (zkey2_col -> tile_pyramid, no store, no join)."""

    name = "batch_join"
    round_mix = {"join": 3, "knn_batch": 2, "pip": 1, "pyramid": 1}
    roles = ("join", "knn_batch")

    def build_oracle(self) -> None:
        super().build_oracle()
        self.want_pyramid = pyramid_checksums(self.pts["x"], self.pts["y"], self.pts["v"], TILE_LEVELS)

    def join_op(self, n: int) -> None:
        boxes = random_boxes(self.rng, n)
        self.last_boxes = boxes

        def plan():
            bdf = self.spark.createDataFrame(pd.DataFrame(boxes))
            ivs, shift = bucketed_intervals_dist(bdf, bits=BITS)
            return count_hits(bdf, bbox_join_bucketed(read_store(self.spark, self.store), bdf, ivs, shift))

        def check(rows):
            got = np.zeros(n, dtype=np.int64)
            for r in rows:
                got[r["qid"]] = r["n_hits"]
            return len(rows) == n and np.array_equal(got, self.oracle.box_counts(boxes))

        self.h.op("join", "operators.bbox_join_bucketed", plan, lambda df: df.collect(), check)

    def knn_batch_op(self, n: int) -> None:
        q = random_queries(self.rng, n, KNN_K)
        self.h.op(
            "knn_batch",
            "operators.knn_batch",
            lambda: knn_batch(self.spark.createDataFrame(pd.DataFrame(q)), store_path=self.store, bits=BITS),
            lambda df: df.collect(),
            lambda rows: self.knn_check(rows, q),
        )

    def pip_op(self, n: int) -> None:
        polys = convex_polygons(self.rng, n)
        want = {p["poly_id"]: self.oracle.polygon_count(p["vertices"]) for p in polys}
        self.h.op(
            "pip",
            "operators.pip_join",
            lambda: pip_join(read_store(self.spark, self.store), polys, bits=BITS).groupBy("poly_id").count(),
            lambda df: df.collect(),
            lambda rows: {r["poly_id"]: r["count"] for r in rows} == {k: v for k, v in want.items() if v},
        )

    def pyramid_op(self) -> None:
        def plan():
            pts = self.spark.read.parquet(self.raw).withColumn("zkey", zkey2_col("x", "y"))
            out = tile_pyramid(pts, levels=TILE_LEVELS, bits=BITS, value_col="v")
            tid = F.col("tile_id")
            return out.groupBy("level").agg(
                F.count(F.lit(1)),
                F.sum("n"),
                F.sum(tid * F.col("n")),
                F.sum(F.col("n") * F.col("n")),
                F.sum("sum_v"),
                F.sum(tid * F.col("sum_v")),
                F.sum("min_v"),
                F.sum("max_v"),
            )

        self.h.op(
            "pyramid",
            "operators.tile_pyramid",
            plan,
            lambda df: df.collect(),
            lambda rows: {r[0]: tuple(int(v) for v in r[1:]) for r in rows} == self.want_pyramid,
        )

    def round(self, warm: bool = False) -> list:
        """The box batch (the paper's batch workload) runs three times and
        the kNN batch twice per round, so their medians have several samples
        in every run.  Warm-up runs the kNN batch twice: its latency still
        falls from the first run to the second and third (JIT on the large
        build sides)."""
        join = lambda: self.join_op(JOIN_BOXES)  # noqa: E731
        knn_b = lambda: self.knn_batch_op(KNN_QUERIES)  # noqa: E731
        if warm:
            return [join, knn_b, lambda: self.pip_op(1), self.pyramid_op, knn_b]
        return [join, knn_b, join, lambda: self.pip_op(PIP_POLYGONS), join, knn_b, self.pyramid_op]

    def probe(self) -> None:
        """Besides the base probes: decomposition and manifest pruning for
        the first boxes of the last batch (three of each side), as a single
        lookup would run them."""
        boxes = self.last_boxes
        for i in range(PROBE_BOXES):
            mins, maxs = (int(boxes["x0"][i]), int(boxes["y0"][i])), (int(boxes["x1"][i]), int(boxes["y1"][i]))
            self.h.probe_box(self.store, mins, maxs, self.oracle.box(*mins, *maxs)[0])
        super().probe()

    def rate(self) -> float:
        return per_s(JOIN_BOXES, percentile(self.h.latencies_ms("join"), 0.5))

    def report(self):
        join, kb, pip, pyr = (self.h.latencies_ms(x) for x in ("join", "knn_batch", "pip", "pyramid"))
        return {
            "batch_boxes_per_s": (self.rate(), f"boxes/s at {JOIN_BOXES} boxes x {STORE_POINTS} points"),
            "batch_knn_queries_per_s": (per_s(KNN_QUERIES, percentile(kb, 0.5)), f"queries/s at {KNN_QUERIES} queries, k={KNN_K}"),
            "pip_points_per_s": (per_s(STORE_POINTS, percentile(pip, 0.5)), f"points/s at {PIP_POLYGONS} polygons"),
            "tile_points_per_s": (per_s(STORE_POINTS, percentile(pyr, 0.5)), f"points/s at {STORE_POINTS} points, levels {TILE_LEVELS}"),
            "join_p50_ms": (percentile(join, 0.5), f"ms (n={len(join)})"),
            "knn_batch_p50_ms": (percentile(kb, 0.5), f"ms (n={len(kb)})"),
            "pip_p50_ms": (percentile(pip, 0.5), f"ms (n={len(pip)})"),
            "pyramid_p50_ms": (percentile(pyr, 0.5), f"ms (n={len(pyr)})"),
        }


WORKLOADS = {w.name: w for w in (Lookup, BatchJoin)}
