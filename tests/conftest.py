from __future__ import annotations

import contextlib
import functools
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


@contextlib.contextmanager
def count_py4j():
    """Count py4j round trips at `GatewayClient.send_command`, from every
    thread, while the block runs (perfbench's `Py4jCounter`).  Yields an
    object whose `calls` holds the count."""
    import py4j.java_gateway as jg

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
