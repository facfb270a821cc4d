from __future__ import annotations

import uuid

import numpy as np
import pytest

from zcurve_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"  # smallest, for fast unit-level e2e
SF_DIR_MID = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="zcurve-tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


def jobs_run(spark, fn):
    """(fn(), number of Spark jobs it ran), counted through a job group."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def codegen_compiles(spark, fn):
    """(fn(), number of classes Spark's code generator compiled while it
    ran), from the count of CodegenMetrics' compilation-time histogram.
    A class found in the generator's cache is not compiled again and is
    not counted."""
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = metric.getCount()
    out = fn()
    return out, metric.getCount() - before


def py4j_calls(fn):
    """(fn(), number of Py4J round trips it made), counted by wrapping
    py4j's ClientServerConnection.send_command for the call.  Garbage
    made earlier is freed first: py4j frees a JVM object with one more
    round trip whenever Python collects its proxy, sent from a finalizer
    thread that drains its queue about once a second, so the queue is
    waited empty (at most 5 s) before counting starts."""
    import gc
    import time

    from py4j.clientserver import ClientServerConnection
    from pyspark import SparkContext

    send = ClientServerConnection.send_command
    calls = 0

    def counted(self, *args, **kwargs):
        nonlocal calls
        calls += 1
        return send(self, *args, **kwargs)

    gc.collect()
    gateway = SparkContext._gateway
    frees = gateway._gateway_client.finalizer_deque if gateway else None
    deadline = time.monotonic() + 5
    while frees and time.monotonic() < deadline:
        time.sleep(0.02)
    ClientServerConnection.send_command = counted
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = send
    return out, calls


def brute_knn(pdf, q):
    """Top-k of query `q` over the pandas points `pdf` as (pid, x, y, d2)
    tuples, ranked by d2 with the engine's (pid, x, y) tie-break."""
    d2 = (pdf.x - q["qx"]) ** 2 + (pdf.y - q["qy"]) ** 2
    t = pdf.assign(d2=d2).sort_values(["d2", "pid", "x", "y"]).head(q["k"])
    return list(map(tuple, t[["pid", "x", "y", "d2"]].values.tolist()))
