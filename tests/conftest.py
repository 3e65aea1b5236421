from __future__ import annotations

import contextlib
import functools
import gc
import os
import sys
import threading
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dremio_oss_spark.session import build_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = build_spark(app_name="tests", shuffle_partitions=8)
    yield s


def _flush_py4j_releases():
    """Send the Java-object releases py4j has queued for its finalizer
    thread, on this thread, so none of them arrives later."""
    from pyspark import SparkContext

    client = getattr(SparkContext._gateway, "_gateway_client", None)
    queue = getattr(client, "finalizer_deque", None)
    while queue:
        try:
            task = queue.pop()
        except IndexError:
            break
        if not isinstance(task, tuple):  # the worker's shutdown marker
            queue.append(task)
            break
        owner, target_id = task
        owner.garbage_collect_object(target_id, False)


@contextlib.contextmanager
def count_py4j():
    """Count py4j round trips at `GatewayClient.send_command`, from every
    thread, while the block runs (perfbench's `Py4jCounter`).  Yields an
    object whose `calls` holds the count.

    py4j releases a Java object through `send_command` when its Python
    proxy is freed.  A garbage-collection pass inside the block would
    add the releases of proxies that earlier code left in reference
    cycles, so the collector runs first, its releases are sent before
    the block opens, and it stays disabled until the block ends: the
    count is the block's own round trips."""
    import py4j.java_gateway as jg

    gc.collect()
    _flush_py4j_releases()
    gc_was_enabled = gc.isenabled()
    gc.disable()
    orig = jg.GatewayClient.__dict__["send_command"]
    counter = types.SimpleNamespace(calls=0)
    lock = threading.Lock()

    @functools.wraps(orig)
    def send_command(client, *a, **kw):
        with lock:
            counter.calls += 1
        return orig(client, *a, **kw)

    jg.GatewayClient.send_command = send_command
    try:
        yield counter
    finally:
        jg.GatewayClient.send_command = orig
        if gc_was_enabled:
            gc.enable()


def count_spark_work(eng, stmt: str) -> tuple[int, int]:
    """(Spark jobs, Spark stages) `stmt` launches through
    `eng.sql(stmt).collect()`, counted through a job group of its own.
    A stage counts once however many of the group's jobs list it (a
    later job lists a finished shuffle stage again, as skipped), so the
    count is the stage ids the statement created."""
    import uuid

    sc = eng.spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, stmt)
    try:
        eng.sql(stmt).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        stages.update(tracker.getJobInfo(j).stageIds)
    return len(jobs), len(stages)


def count_jobs(eng, stmt: str) -> int:
    """Spark jobs `stmt` launches through `eng.sql(stmt).collect()`."""
    return count_spark_work(eng, stmt)[0]
