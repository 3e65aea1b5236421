"""Per-job query telemetry: a bounded job store whose profiles are built
from Spark's SQL status store when they are read.

The reference persists a QueryProfile per job (`services/jobtelemetry`)
and serves it through `dac/.../resource/JobProfileResource.java:64`
(per-phase PhaseData with nested per-operator OperatorData metrics —
`services/jobs/src/main/proto/jobAnalysis.proto:75`) plus a filterable
jobs listing (`JobsListingResource.java:63-132`, item shape
`JobListingItem.java:34-62`).  Its foreman never walks the plan on the
query's path: the operator profiles are what the executors reported
(`jobAnalysis.proto:59-73`).

Spark keeps the same data already.  For every SQL execution its SQL
status store holds the final physical plan text, the plan graph with
each operator's SQL-UI metrics and their aggregated values, and the
execution's jobs and stages.  So a statement's path records only state,
timings, row count and the Spark job group it ran under — `complete`
makes no py4j call — and the first read of a completed job's profile
maps the group to its last SQL execution, builds `plan`, `operators`
and `phases` from it (`StatusReader`) and memoizes them into the job
record.  A read launches no Spark job.

Metric names are Spark's SQL-UI names (`number of output rows`, `peak
memory`, `time in aggregation build`): the status store does not keep
the `SparkPlan.metrics` keys.  Values are integers parsed from the
store's display strings (`metric_value`).

Retention: Spark keeps the newest `spark.ui.retainedJobs` jobs and
`spark.sql.ui.retainedExecutions` executions.  A profile whose group has
no retained job with an SQL execution — aged out, or the statement never
launched a Spark job — says so with `"profileStatus": "EXPIRED"`.  The
job store itself is a capped OrderedDict holding the newest `cap` jobs,
like the reference's jobs KV store with its TTL.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import OrderedDict, defaultdict

from py4j.protocol import Py4JJavaError

__all__ = ["JOB_GROUP_PROPS", "JobTelemetryStore", "StatusReader",
           "clear_job_group", "metric_value", "plan_operators"]

# the thread-local properties SparkContext.setJobGroup sets
JOB_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                   "spark.job.interruptOnCancel")


def clear_job_group(sc) -> None:
    """pyspark has no clearJobGroup: reset the thread-locals."""
    for k in JOB_GROUP_PROPS:
        sc.setLocalProperty(k, None)


_QTY = re.compile(r"(\d[\d,]*(?:\.\d+)?)(?: ?(B|KiB|MiB|GiB|TiB|PiB|EiB"
                  r"|ms|s|m|h)\b)?")
_SCALE = {"": 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60,
          "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def metric_value(text: str | None) -> int | None:
    """One SQL-UI metric display string as an integer: a sum exactly
    (`2,001,500`), a size in bytes (`35.8 KiB`), a timing in ms
    (`655 ms`, `1.2 m`).  A spread over tasks puts its figures on a
    second line: sizes and timings lead it with their total (`total
    (min, med, max (stageId: taskId))` / `4.8 MiB (1024.0 B, …)`), an
    average shows `(min, med, max …)` and reads as its median."""
    if text is None:
        return None
    line = text.rsplit("\n", 1)[-1]
    found = _QTY.findall(line)
    if not found:
        return None
    num, unit = found[1 if line.startswith("(") and len(found) > 1 else 0]
    return round(float(num.replace(",", "")) * _SCALE[unit])


class StatusReader:
    """Builds profiles from one SparkSession's status stores.  Every
    store object crosses py4j as one JSON string (Spark's own Jackson
    mapper with the Scala module), so a profile costs two round trips
    per object read — the execution, its plan graph, its jobs and
    stages — instead of one per plan node and metric."""

    # how long a read waits for the listener bus to deliver a statement
    # that just ended
    SETTLE_MS = 2000

    def __init__(self, spark):
        self._spark = spark
        self._mapper = None

    def _open(self) -> None:
        """Take the JVM handles on the first read."""
        if self._mapper is not None:
            return
        sc = self._spark.sparkContext
        jsc, jvm = sc._jsc.sc(), sc._jvm
        self._tracker, self._app = jsc.statusTracker(), jsc.statusStore()
        self._sql = self._spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.listenerBus()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        mapper.registerModule(getattr(scala, "MODULE$"))
        self._mapper = mapper

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def _maybe(self, read, key):
        """`read(key)` as JSON, or None once the entry aged out."""
        try:
            return self._json(read(key))
        except Py4JJavaError:
            return None

    def settle(self) -> None:
        """Wait until the listener bus delivered the events posted so
        far: a statement's end reaches the status stores
        asynchronously.  Returns at once on an idle bus."""
        self._open()
        try:
            self._bus.waitUntilEmpty(self.SETTLE_MS)
        except Py4JJavaError:  # timed out: read what the store holds
            return

    def profile(self, group: str, settle: bool = True) -> dict:
        """`plan`, `operators`, `phases` and `profileStatus` (COMPLETE,
        RUNNING or EXPIRED) of the last SQL execution among `group`'s
        jobs.  With `settle`, a read that finds no finished execution
        waits for the listener bus once and reads again."""
        prof = self._read(group)
        if settle and prof["profileStatus"] != "COMPLETE":
            self.settle()
            prof = self._read(group)
        return prof

    def _read(self, group: str) -> dict:
        self._open()
        try:
            for jid in sorted(
                    self._json(self._tracker.getJobIdsForGroup(group)),
                    reverse=True):
                job, eid = self._json(self._app.jobWithAssociatedSql(jid))
                if eid is not None:
                    break
            else:
                return _expired()
            ex = self._json(self._sql.execution(eid))
            if ex is None:
                return _expired()
            graph = self._json(self._sql.planGraph(eid))
            values = ex["metricValues"]
            if values is None:  # aggregated asynchronously after the end
                values = self._json(self._sql.executionMetrics(eid))
        except Py4JJavaError:  # an entry aged out between two reads
            return _expired()
        return {"profileStatus": ("COMPLETE" if ex["completionTime"]
                                  else "RUNNING"),
                "plan": ex["physicalPlanDescription"],
                "operators": plan_operators(graph, values),
                "phases": self._phases(ex, job)}

    def _phases(self, ex: dict, job: dict) -> list[dict]:
        """The execution's stages — the reference's PhaseData level (a
        Spark stage is the exchange-bounded pipeline a Dremio
        phase/major-fragment is).  Jobs and stages age out of the store
        one by one (`spark.ui.retainedStages`); a missing one is left
        out."""
        jobs = {job["jobId"]: job}
        for jid in map(int, ex["jobs"]):
            if jid not in jobs:
                jobs[jid] = (self._maybe(self._app.job, jid)
                             or {"stageIds": []})
        owner = {sid: jid for jid, j in jobs.items()
                 for sid in j["stageIds"]}
        phases = []
        for sid in sorted(ex["stages"]):
            st = self._maybe(self._app.lastStageAttempt, sid)
            if st is not None:
                phases.append({
                    "phaseId": sid, "sparkJobId": owner.get(sid),
                    "phaseName": st["name"],
                    "numTasks": st["numTasks"],
                    "completedTasks": st["numCompleteTasks"],
                    "activeTasks": st["numActiveTasks"],
                    "failedTasks": st["numFailedTasks"],
                })
        return phases


def _expired() -> dict:
    return {"profileStatus": "EXPIRED", "plan": None, "operators": [],
            "phases": []}


def plan_operators(graph: dict, values: dict) -> list[dict]:
    """Preorder operator rows of an SQL-UI plan graph — the reference's
    OperatorData rows (jobAnalysis.proto:59-73: operatorName + records/
    memory/time).  `values` maps accumulator id to display string.

    Returns [{"operatorId", "depth", "operatorName", "metrics"}...] with
    operatorId dense in preorder (parent = nearest shallower
    predecessor).  AdaptiveSparkPlan wrappers are dropped, each
    WholeStageCodegen cluster sits above the nodes it holds, and a
    second consumer of an exchange gets a ReusedExchange leaf, as in
    the executed plan; the graph itself omits InputAdapter and the AQE
    query-stage wrappers."""
    nodes, cluster_of = {}, {}
    for n in graph["nodes"]:
        nodes[n["id"]] = n
        for m in n.get("nodes", ()):
            nodes[m["id"]] = m
            cluster_of[m["id"]] = n["id"]
    children, has_parent = defaultdict(list), set()
    for e in graph["edges"]:
        children[e["toId"]].append(e["fromId"])
        has_parent.add(e["fromId"])
    out: list[dict] = []
    seen: set[int] = set()

    def emit(name: str, metrics: list[dict], depth: int) -> None:
        mets = {}
        for m in metrics:
            v = metric_value(values.get(str(m["accumulatorId"])))
            if v is not None:
                mets[m["name"]] = v
        out.append({"operatorId": len(out), "depth": depth,
                    "operatorName": name, "metrics": mets})

    def visit(nid: int, depth: int, cluster) -> None:
        n = nodes[nid]
        if nid in seen:
            emit("ReusedExchange" if "Exchange" in n["name"]
                 else "ReusedSubquery", [], depth)
            return
        seen.add(nid)
        if n["name"] == "AdaptiveSparkPlan":
            for c in children[nid]:
                visit(c, depth, cluster)
            return
        own = cluster_of.get(nid)
        if own is not None and own != cluster:
            emit(nodes[own]["name"], nodes[own]["metrics"], depth)
            depth += 1
        emit(n["name"], n["metrics"], depth)
        for c in children[nid]:
            visit(c, depth + 1, own)

    for nid in sorted(nodes):
        if nid not in has_parent and "nodes" not in nodes[nid]:
            visit(nid, 0, None)
    return out


class JobTelemetryStore:
    """Bounded per-job profile store (the reference's jobtelemetry KV
    role at in-memory scale).  Lifecycle: start -> planned -> complete;
    every mutator is lock-guarded and CANCELED is terminal, matching
    the REST job store's contract.  Each job names the Spark job group
    its statement runs under; its profile is read from Spark's status
    store through that group (`profile`)."""

    LISTING_SORT_KEYS = ("startTime", "endTime", "duration",
                        "queryUser", "state", "rowsReturned")

    # a job that ended this recently may still be in flight on Spark's
    # listener bus: a profile read then waits for the bus, and an
    # EXPIRED answer is not memoized
    SETTLE_MS = 10_000

    def __init__(self, spark, cap: int = 256):
        self._jobs: OrderedDict[str, dict] = OrderedDict()
        self._lock = threading.Lock()
        self._cap = cap
        self.reader = StatusReader(spark)

    # -- lifecycle ---------------------------------------------------------
    def start(self, jid: str, sql: str, user: str = "$dremio$",
              query_type: str = "REST", *, job_group: str) -> None:
        with self._lock:
            self._jobs[jid] = {
                "id": jid, "queryText": sql, "queryUser": user,
                "queryType": query_type, "jobGroup": job_group,
                "state": "RUNNING",
                "startTime": int(time.time() * 1000), "endTime": None,
                "duration": None, "planningTimeMs": None,
                "executionTimeMs": None, "isAccelerated": False,
                "accelerated_by": None, "rowsReturned": None,
                "consideredReflections": [],
                "error": None, "profileStatus": None, "plan": None,
                "operators": [], "phases": [], "isComplete": False,
                "cached_plan": False,
                "wlmQueue": None,
            }
            while len(self._jobs) > self._cap:
                # evict oldest COMPLETE first; running jobs survive the
                # soft cap, but abandoned RUNNING entries (profiled_sql
                # without finish_job) must not grow the store without
                # bound — past 4x cap the oldest goes regardless
                victim = next((k for k, v in self._jobs.items()
                               if v["isComplete"]), None)
                if victim is None:
                    if len(self._jobs) <= 4 * self._cap:
                        break
                    victim = next(iter(self._jobs))
                self._jobs.pop(victim)

    def planned(self, jid: str, planning_ms: float,
                accelerated_by: str | None = None,
                cached: bool = False,
                wlm_queue: str | None = None,
                considered: list[str] | None = None) -> None:
        with self._lock:
            job = self._jobs.get(jid)
            if job is None:
                return
            job["planningTimeMs"] = round(planning_ms, 3)
            job["accelerated_by"] = accelerated_by
            job["isAccelerated"] = bool(accelerated_by)
            # substitution candidates the probe considered (the
            # reference profile's acceleration section)
            job["consideredReflections"] = list(considered or [])
            job["cached_plan"] = cached
            if wlm_queue is not None:
                job["wlmQueue"] = wlm_queue

    def set_queue(self, jid: str, wlm_queue: str) -> None:
        with self._lock:
            job = self._jobs.get(jid)
            if job is not None:
                job["wlmQueue"] = wlm_queue

    def complete(self, jid: str, state: str = "COMPLETED",
                 execution_ms: float | None = None,
                 row_count: int | None = None,
                 error: str | None = None) -> None:
        """Terminal transition: state, timings and row count only.  No
        py4j call — the profile is built when it is read."""
        with self._lock:
            job = self._jobs.get(jid)
            if job is None:
                return
            if job["state"] == "CANCELED" and state != "CANCELED":
                return  # terminal, same rule as the REST job store
            job["state"] = state
            job["endTime"] = int(time.time() * 1000)
            job["duration"] = job["endTime"] - job["startTime"]
            if execution_ms is not None:
                job["executionTimeMs"] = round(execution_ms, 3)
            if row_count is not None:
                job["rowsReturned"] = row_count
            if error is not None:
                job["error"] = error
            job["isComplete"] = True

    # -- read side ---------------------------------------------------------
    def get(self, jid: str) -> dict | None:
        with self._lock:
            job = self._jobs.get(jid)
            return dict(job) if job is not None else None

    def profile(self, jid: str) -> dict | None:
        """The JobProfileResource view: summary + plan + phase/operator
        metrics in one document.  Built from the job group's last SQL
        execution on read; memoized once the job completed and the
        execution finished (or is past settling and EXPIRED)."""
        job = self.get(jid)
        if job is None or job["profileStatus"] in ("COMPLETE", "EXPIRED"):
            return job
        recent = (not job["isComplete"]
                  or time.time() * 1000 - job["endTime"] < self.SETTLE_MS)
        built = self.reader.profile(job["jobGroup"],
                                    settle=job["isComplete"] and recent)
        if not job["isComplete"]:
            built["profileStatus"] = "RUNNING"
        elif built["profileStatus"] == "COMPLETE" or (
                built["profileStatus"] == "EXPIRED" and not recent):
            with self._lock:
                live = self._jobs.get(jid)
                if live is not None:
                    live.update(built)
        job.update(built)
        return job

    def running_groups(self) -> list[str]:
        """Job groups of the RUNNING jobs."""
        with self._lock:
            return [j["jobGroup"] for j in self._jobs.values()
                    if j["state"] == "RUNNING"]

    def listing(self, filter_text: str = "", state: str = "",
                user: str = "", sort: str = "startTime",
                order: str = "desc", offset: int = 0,
                limit: int = 100) -> dict:
        """JobsListingResource.java:92-132 shape: filter + sort +
        offset/limit paging over job summaries (no plan/operator
        payload — that is the profile route's job)."""
        with self._lock:
            jobs = [dict(j) for j in self._jobs.values()]
        f = filter_text.lower()
        if f:
            jobs = [j for j in jobs if f in (j["queryText"] or "").lower()]
        if state:
            jobs = [j for j in jobs if j["state"] == state.upper()]
        if user:
            jobs = [j for j in jobs if j["queryUser"] == user]
        key = sort if sort in self.LISTING_SORT_KEYS else "startTime"
        jobs.sort(key=lambda j: (j.get(key) is None, j.get(key)),
                  reverse=(order.lower() != "asc"))
        total = len(jobs)
        page = jobs[offset:offset + limit]
        summaries = [{k: j[k] for k in
                      ("id", "queryType", "queryUser", "queryText",
                       "isAccelerated", "accelerated_by", "state",
                       "startTime", "endTime", "duration",
                       "rowsReturned", "isComplete", "wlmQueue")}
                     for j in page]
        nxt = (offset + limit) if offset + limit < total else None
        return {"jobs": summaries, "total": total, "next": nxt}

    def daily_stats(self, start_ms: int = 0, end_ms: int = 0
                    ) -> list[dict]:
        """Per-UTC-day job counts by queryType + unique users — the
        aggregation behind the reference's /cluster/jobstats
        (DailyJobStatsResource.java:88) and /stats/jobsandusers
        (JobAndUserStatsResource.java:57) dashboards.  Bounds are
        epoch-ms, 0 = unbounded."""
        import datetime as _dt

        with self._lock:
            jobs = [dict(j) for j in self._jobs.values()]
        days: dict[str, dict] = {}
        for j in jobs:
            ts = j["startTime"]
            if (start_ms and ts < start_ms) or (end_ms and ts > end_ms):
                continue
            day = _dt.datetime.fromtimestamp(
                ts / 1000, _dt.timezone.utc).strftime("%Y-%m-%d")
            d = days.setdefault(day, {"date": day, "total": 0,
                                      "users": set()})
            d["total"] += 1
            d[j["queryType"]] = d.get(j["queryType"], 0) + 1
            d["users"].add(j["queryUser"])
        out = []
        for day in sorted(days):
            d = days[day]
            d["totalUniqueUsers"] = len(d.pop("users"))
            out.append(d)
        return out

    def rows_for_sys_jobs(self) -> list[tuple]:
        """Flat rows for the sys.jobs system table (one per tracked
        job) — schema kept in Engine.sys_jobs; n_stages counts the
        profile's phases, built on this read."""
        with self._lock:
            ids = list(self._jobs)
        jobs = [j for j in map(self.profile, ids) if j is not None]
        return [(j["id"], j["state"], len(j["phases"]),
                 j["queryType"], j["queryUser"], j["queryText"],
                 j["startTime"], j["endTime"],
                 j["planningTimeMs"] and float(j["planningTimeMs"]),
                 j["executionTimeMs"] and float(j["executionTimeMs"]),
                 j["accelerated_by"],
                 j["rowsReturned"]) for j in jobs]
