"""Repository benchmark: seeded workloads over the zcurve_spark engine.

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Builds its inputs from ``--seed``, sets up
(Spark session, input generation, store build, warm-up), runs the workload's
closed loop for ``--seconds``, checks every answer against a numpy oracle and
prints a report followed by one JSON line.  ``--trace 0`` reports the
``end_to_end`` metrics of BENCHMARK.json, ``--trace 1`` the ``per_layer``
ones (spans, Spark status counts and event-log task metrics).  All files go
to ``.perfbench_work/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
MIN_FREE_BYTES = 2 << 30
WORKLOAD_NAMES = ("lookup", "batch_join")
SPAN_LAYERS = ("op", "operators", "sources", "plans")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def configure_env(work: str, traced: bool) -> dict:
    """Size Spark for this host and keep every file under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    driver_mem = f"{max(1, min(4, int(mem_gb // 4)))}g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": driver_mem,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            "SPARK_GRAFT_WORK_DIR": os.path.join(work, "stage"),
            "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={tmp}",
            "SPARK_GRAFT_EVENTLOG": "true" if traced else "false",
            # plain-text, single-file event log: the parser reads JSON lines
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {kv}"
                for kv in (
                    "spark.ui.showConsoleProgress=false",
                    "spark.eventLog.compress=false",
                    "spark.eventLog.rolling.enabled=false",
                )
            )
            + " pyspark-shell",
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
        }
    )
    tempfile.tempdir = None  # re-read TMPDIR
    return {"cpus": cpus, "driver_mem": driver_mem}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=120)


def per_layer(h, wl, session_s: float) -> tuple[dict, dict]:
    """Per-layer figures of a traced run, under the names every workload
    shares (means per sample unless noted), and the same figures per
    operation kind, for the report only.  Spark job, stage and task counts
    come from the first timed round, which is the same on every run of a
    seed, so they repeat exactly."""
    from spans import drain_listener_bus, status_counts

    s = h.samples

    def mean(name):
        return statistics.fmean(s[name]) if s.get(name) else 0.0

    out = {"session.start_s": session_s}
    for name in (
        "plans.decompose_ms",
        "plans.intervals_per_box",
        "plans.solid_interval_share",
        "plans.dist_decompose_s",
        "sources.prune_ms",
        "sources.files_read",
        "sources.files_total",
        "sources.bytes_read",
        "sources.write_s",
        "functions.encode_rows_per_s",
    ):
        out[name] = mean(name)
    out["sources.rows_read_per_hit"] = sum(s.get("sources.rows_read", [])) / max(1.0, sum(s.get("sources.rows_hit", [])))

    drain_listener_bus(h.spark)
    counts = {o.op_id: status_counts(h.spark, f"op{o.op_id}") for o in h.measured()}
    first = h.first_round()

    def put(dst: dict, prefix: str, spark_prefix: str, label: str) -> None:
        ops, firsts = h.measured(label), [o for o in first if o.label == label]
        dst[f"{prefix}.plan_ms"] = statistics.fmean(o.plan_s for o in ops) * 1000
        dst[f"{prefix}.exec_ms"] = statistics.fmean(o.exec_s for o in ops) * 1000
        for i, what in enumerate(("jobs", "stages", "tasks")):
            dst[f"{spark_prefix}.{what}_per_op"] = statistics.fmean(counts[o.op_id][i] for o in firsts)

    for slot, label in zip(("op", "op2"), wl.roles):
        put(out, f"operators.{slot}", f"spark.{slot}", label)
    by_kind = {}
    layers = {label: h.measured(label)[0].layer for label in wl.round_mix}
    for label, layer in layers.items():
        put(by_kind, layer, f"spark.{layer.split('.', 1)[1]}", label)
    for what in ("plan_ms", "exec_ms"):
        out[f"operators.round_{what}"] = sum(by_kind[f"{layers[label]}.{what}"] * k for label, k in wl.round_mix.items())
    for i, what in enumerate(("jobs", "stages", "tasks")):
        out[f"spark.round_{what}"] = sum(counts[o.op_id][i] for o in first)
    out["spark.failed_tasks"] = sum(c[3] for c in counts.values())
    return out, by_kind


def event_metrics(out: dict, measured, events_dir: str) -> None:
    from spans import EVENT_METRICS, event_log_by_group

    by_group = event_log_by_group(events_dir)
    n = max(len(measured), 1)
    for m in EVENT_METRICS:
        out[f"spark.{m}"] = sum(by_group.get(f"op{o.op_id}", {}).get(m, 0.0) for o in measured) / n


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "zcurve_spark", "__init__.py")):
        print("perfbench: no zcurve_spark package next to perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    traced = bool(args.trace)
    os.makedirs(WORK_ROOT, exist_ok=True)
    free = shutil.disk_usage(WORK_ROOT).free
    if free < MIN_FREE_BYTES:
        print(f"perfbench: only {free >> 20} MiB free under {WORK_ROOT}; need {MIN_FREE_BYTES >> 20}", file=sys.stderr)
        return 3
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    try:
        host = configure_env(work, traced)
        return run(args, spec, work, host)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, spec: dict, work: str, host: dict) -> int:
    sys.path[:0] = [ROOT, BENCH]
    from spans import Tracer, event_log_into

    from zcurve_spark.session import get_spark

    from workloads import WORKLOADS, Harness

    traced = bool(args.trace)
    tracer = Tracer(traced)
    events_dir = os.path.join(work, "events")
    t0 = time.perf_counter()
    with event_log_into(events_dir) if traced else contextlib.nullcontext():
        with tracer.span("session.get_spark"):
            spark = get_spark(app=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        h = Harness(spark, tracer, work)
        wl = WORKLOADS[args.workload](h, args.seed)
        prep = []
        for rep in range(wl.reps):
            t = time.perf_counter()
            wl.prepare(rep)
            prep.append(time.perf_counter() - t)
        wl.build_oracle()
        t = time.perf_counter()
        wl.warm()
        warm_s = time.perf_counter() - t
        setup_s = session_s + statistics.median(prep) + warm_s

        h.measuring = True
        loop_s = wl.run(args.seconds)
        h.measuring = False
        slots, named = wl.slots(), wl.report()
        slots["setup_s"] = setup_s
        layers = by_kind = None
        if traced:
            wl.probe()
            layers, by_kind = per_layer(h, wl, session_s)
    finally:
        stop_spark(spark)

    failed = sum(not o.ok for o in h.ops)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"local[{host['cpus']}] driver_mem={host['driver_mem']} loop={loop_s:.1f}s")
    print(f"  setup_s = {setup_s:.3f} s  (session {session_s:.2f} s + median of "
          f"{len(prep)} set-ups {statistics.median(prep):.2f} s {[round(p, 2) for p in prep]} + warm-up {warm_s:.2f} s)")
    for name, (value, unit) in named.items():
        print(f"  {name} = {value:.6g} {unit}")
    print(f"  failed_ops_ratio = {failed / len(h.ops):.4g} ({failed} of {len(h.ops)} ops)")

    last = os.path.join(WORK_ROOT, f"last-{args.workload}-seed{args.seed}.json")
    if traced:
        measured = h.measured()
        event_metrics(layers, measured, events_dir)
        ids = {o.op_id for o in measured}
        selfs = tracer.self_times(ids)
        n = max(len(measured), 1)
        for layer in SPAN_LAYERS:
            layers[f"trace.self_ms_per_op.{layer}"] = selfs.get(layer, 0.0) * 1000 / n
        layers["trace.op_p50_ms"] = slots["op_p50_ms"]
        layers["trace.spans"] = len(tracer.spans)
        tracer.dump(os.path.join(WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.json"))
        if os.path.exists(last):
            with open(last) as fh:
                base = json.load(fh)
            print("  tracing overhead (this run against the last untraced run of this seed): "
                  + ", ".join(f"{k} {(slots[k] - v) / v * 100:+.1f}%" for k, v in base.items()))
        print("  per operation kind (the op / op2 / round figures below come from these):")
        for name, value in by_kind.items():
            print(f"    {name} = {value:.6g}")
        values, wanted = layers, spec["per_layer"]
    else:
        with open(last, "w") as fh:
            json.dump(slots, fh)
        values, wanted = slots, spec["end_to_end"]

    metrics = {}
    for m in wanted:
        metrics[m["name"]] = {"value": float(values[m["name"]]), "unit": m["unit"]}
        if traced:
            print(f"  {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": len(h.ops), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
