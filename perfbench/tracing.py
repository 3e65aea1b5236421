"""Spans and counters recorded from outside the engine.

The tracer wraps the public entry points of each layer the benchmark
drives -- `Engine.sql`, `Engine.create_vds`, the `ReflectionStore`
refresh and match methods, the plan-tree substitution matchers, the
Delta/Iceberg verb functions and the REST server's tracked execution --
and counts py4j round-trips at `GatewayClient.send_command`.  Spans stay
in memory and are written out when the run ends.  Spark statistics per
statement come from the status store, by job group, after the statement
finished; the tracer's own py4j calls are excluded from the counts.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

from dremio_oss_spark.sources.delta import ConcurrentWriteError
from measure import self_times

# (module path, attribute owner, attribute, span name)
_ENGINE = "dremio_oss_spark.engine"
_REFL = "dremio_oss_spark.plans.reflections"
_SUBST = "dremio_oss_spark.plans.substitution"
_DELTA = "dremio_oss_spark.sources.delta"
_ICE = "dremio_oss_spark.sources.iceberg"
_REST = "dremio_oss_spark.server.rest"

WRAPPED = [
    (_ENGINE, "Engine", "sql", "engine.sql"),
    (_ENGINE, "Engine", "create_vds", "catalog.create_vds"),
    (_REFL, "ReflectionStore", "find_match", "plans.reflections.match"),
    (_REFL, "ReflectionStore", "rebuild", "plans.reflections.refresh.full"),
    (_REFL, "ReflectionStore", "_full_refresh",
     "plans.reflections.refresh.full"),
    (_REFL, "ReflectionStore", "incremental_refresh",
     "plans.reflections.refresh.incremental"),
    (_REFL, "ReflectionStore", "cdf_incremental_refresh",
     "plans.reflections.refresh.incremental"),
    (_REFL, "ReflectionStore", "changelog_incremental_refresh",
     "plans.reflections.refresh.incremental"),
    (_REFL, "ReflectionStore", "snapshot_incremental_refresh",
     "plans.reflections.refresh.incremental"),
    (_REFL, "ReflectionStore", "incremental_refresh_raw",
     "plans.reflections.refresh.incremental"),
    (_SUBST, None, "match_and_execute", "plans.substitution.match"),
    (_SUBST, None, "match_and_execute_raw", "plans.substitution.match"),
    (_DELTA, None, "write_delta", "sources.delta.insert"),
    (_DELTA, None, "update_delta", "sources.delta.update"),
    (_DELTA, None, "delete_from_delta", "sources.delta.delete"),
    (_DELTA, None, "merge_into_delta", "sources.delta.merge"),
    (_DELTA, None, "optimize_delta", "sources.delta.optimize"),
    (_ICE, None, "write_iceberg", "sources.iceberg.insert"),
    (_ICE, None, "update_iceberg", "sources.iceberg.update"),
    (_ICE, None, "delete_from_iceberg", "sources.iceberg.delete"),
    (_ICE, None, "merge_into_iceberg", "sources.iceberg.merge"),
    (_ICE, None, "optimize_iceberg", "sources.iceberg.optimize"),
    (_REST, "_Handler", "_exec_tracked", "server.rest.exec"),
]

_STAGE_FIELDS = {
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "task_time_ms": "executorRunTime",
}


class Py4jCounter:
    """Total py4j round trips at `GatewayClient.send_command` while
    installed: the one counter an untraced run keeps.  The locked add
    costs well under a microsecond, against tens of microseconds for the
    round trip it counts."""

    def __init__(self):
        self.calls = 0
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        import py4j.java_gateway as jg

        orig = self._orig = jg.GatewayClient.__dict__["send_command"]
        counter = self

        @functools.wraps(orig)
        def send_command(client, *a, **kw):
            with counter._lock:
                counter.calls += 1
            return orig(client, *a, **kw)

        jg.GatewayClient.send_command = send_command

    def uninstall(self) -> None:
        import py4j.java_gateway as jg

        jg.GatewayClient.send_command = self._orig


class Tracer:
    """Spans, py4j counts and per-statement Spark statistics of one run.
    `phase` tags each span: "setup", "run" (the traced region) or
    "after"; per-layer figures read the "run" spans."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.phase = "setup"
        self.py4j: dict[str | None, int] = defaultdict(int)
        self.spark_stats: dict[str, dict] = {}
        self.conflicts: dict[str, int] = defaultdict(int)
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple] = []

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def statement(self, sid: str | None) -> None:
        """Attribute the calling thread's next spans and py4j calls."""
        self._local.sid = sid

    @contextlib.contextmanager
    def own_calls(self):
        """py4j calls the tracer itself makes: not counted."""
        self._local.own = True
        try:
            yield
        finally:
            self._local.own = False

    def _wrap(self, fn, name: str, rest: bool):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if rest:  # _exec_tracked(self, jid, sql, n): jid is the id
                tracer.statement(f"rest-{args[1]}")
            stack = tracer._stack()
            span = {"id": next(tracer._ids), "name": name,
                    "parent": stack[-1] if stack else None,
                    "sid": getattr(tracer._local, "sid", None),
                    "phase": tracer.phase,
                    "thread": threading.get_ident(),
                    "start": time.perf_counter(), "end": None}
            stack.append(span["id"])
            try:
                return fn(*args, **kwargs)
            except ConcurrentWriteError:
                with tracer._lock:
                    tracer.conflicts[name] += 1
                raise
            finally:
                span["end"] = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append(span)

        return wrapper

    def install(self) -> None:
        import importlib

        import py4j.java_gateway as jg

        for mod_name, owner, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            target = getattr(mod, owner) if owner else mod
            orig = target.__dict__[attr]
            setattr(target, attr, self._wrap(orig, name,
                                             attr == "_exec_tracked"))
            self._undo.append((target, attr, orig))
        orig_send = jg.GatewayClient.__dict__["send_command"]
        tracer = self

        @functools.wraps(orig_send)
        def send_command(client, *a, **kw):
            if not getattr(tracer._local, "own", False):
                sid = getattr(tracer._local, "sid", None)
                with tracer._lock:
                    tracer.py4j[sid] += 1
            return orig_send(client, *a, **kw)

        jg.GatewayClient.send_command = send_command
        self._undo.append((jg.GatewayClient, "send_command", orig_send))

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._undo):
            setattr(target, attr, orig)
        self._undo.clear()

    # -- Spark statistics by job group -----------------------------------------
    def collect_spark(self, sid: str, group: str) -> None:
        """Status-store totals of every job tagged `group`."""
        with self.own_calls():
            sc = self.spark.sparkContext
            jsc = sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            out = defaultdict(float)
            for jid in sc.statusTracker().getJobIdsForGroup(group):
                job = store.job(jid)
                out["jobs"] += 1
                sub, end = job.submissionTime(), job.completionTime()
                if sub.isDefined() and end.isDefined():
                    out["exec_ms"] += (end.get().getTime()
                                       - sub.get().getTime())
                stages = job.stageIds()
                for i in range(stages.size()):
                    try:
                        st = store.lastStageAttempt(stages.apply(i))
                    except Py4JJavaError:  # a skipped stage has no attempt
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    for k, m in _STAGE_FIELDS.items():
                        out[k] += getattr(st, m)()
                    out["spill_bytes"] += (st.memoryBytesSpilled()
                                           + st.diskBytesSpilled())
            self.spark_stats[sid] = dict(out)

    # -- output ---------------------------------------------------------------
    def run_spans(self) -> list[dict]:
        return [s for s in self.spans if s["phase"] == "run"]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name, run phase only, in ms."""
        spans = self.spans
        st = self_times(spans)
        out = defaultdict(float)
        for s in spans:
            if s["phase"] == "run":
                out[s["name"]] += st[s["id"]] * 1000
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
