"""REST SQL endpoint: POST a statement, get JSON rows back — with the
reference's async job store + result paging.

Reference: dremio-oss's primary entry point is the REST SQL API
(`dac/backend/.../dac/resource/SQLResource.java:53`, v3 API
`dac/api/SQLResource.java:47`) — a POST with `{"sql": "..."}` submits a
JOB; `GET /api/v3/job/{id}` polls its state and
`GET /api/v3/job/{id}/results?offset=&limit=` pages the result set
(the JobsService flow).  Both shapes are served here:

- POST /api/v3/sql       {"sql": "..."} → the DAC-style immediate
                         response {"id", "schema", "rows", "rowCount",
                         "accelerated_by"}; with {"async": true} the
                         POST returns {"id"} at submit time and the
                         statement runs in a worker thread
- GET  /api/v3/job/{id}          {"jobState": RUNNING|COMPLETED|FAILED,
                                  "rowCount", "errorMessage"?}
- GET  /api/v3/job/{id}/results  ?offset=&limit= pages stored rows
- GET  /api/v3/job/{id}/profile  the query profile captured at
                         execution time (JobProfileResource.java:64):
                         executed plan text, per-stage task metrics,
                         per-operator SQLMetrics, planning/execution
                         wall split, acceleration
- GET  /api/v3/jobs-listing      filterable/sortable job summaries
                         (JobsListingResource.java:63-132):
                         ?filter=&state=&user=&sort=&order=&offset=&limit=
- GET  /api/v3/catalog   table/view/space listing (INFORMATION_SCHEMA
                         shape + space containers)
- GET  /health           liveness probe

Catalog CRUD (the reference's v3 catalog API,
`dac/backend/.../dac/api/CatalogResource.java:57` — spaces, folders,
VDS — and reflection management, `ReflectionResource.java:47`):

- GET    /api/v3/catalog/by-path/{seg}/{seg}...  entity by path
- GET    /api/v3/catalog/{id}                    entity by id
- POST   /api/v3/catalog        create space/folder/VDS from a
                                CatalogEntity body ({"entityType":
                                "space"|"folder"|"dataset", ...})
- PUT    /api/v3/catalog/{id}   update a VDS definition ({"sql": ...})
- DELETE /api/v3/catalog/{id}   delete space/folder/VDS
- POST   /api/v3/catalog/{id}/refresh   REFRESH DATASET (metadata) +
                                dependent-reflection staleness
- GET    /api/v3/reflection                 list reflections
- GET    /api/v3/reflection/{name}          one reflection
- POST   /api/v3/reflection     create from the reference's Reflection
                                body shape (type AGGREGATION|RAW,
                                dimensionFields/measureFields with
                                measureTypeList, displayFields)
- DELETE /api/v3/reflection/{name}

Entity ids are deterministic path-shaped strings ("space/<name>",
"dataset/<space>.<dotted name>", "table/<name>",
"reflection/<name>") rather than the reference's UUIDs — same
addressing power, no id store to persist.

Same scale contract as the Flight endpoint: results materialize
driver-side per request — result-set-sized reads only (the reference's
REST API likewise caps returned rows; `limit` defaults to 500 as the
DAC does, and a job stores at most `_Handler.max_stored` rows).

Concurrency note: statement PLANNING serializes behind one lock —
engine session state (shims, policy views, acceleration markers) is not
thread-safe — but EXECUTION (the collect) runs outside it: engine.sql
returns a fully-analyzed DataFrame, so overlapping reads interleave at
the Spark scheduler exactly like the reference's concurrent jobs
service (`ForemenWorkManager.java:715` — many foremen, one coordinator
planning queue).  Mutating statements commit inside engine.sql and so
remain fully serialized."""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from ..plans.telemetry import clear_job_group

# engine state (shims, policy views, acceleration markers) is not
# thread-safe; ThreadingHTTPServer handlers serialize engine access
_ENGINE_LOCK = threading.Lock()


def _json_cell(v):
    """JSON-safe cell: dates/decimals/bytes stringify."""
    import datetime
    import decimal

    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, (bytes, bytearray)):
        import base64

        return base64.b64encode(bytes(v)).decode()
    try:
        from pyspark.sql import Row

        if isinstance(v, Row):  # struct cell: keep field names
            return {k: _json_cell(x) for k, x in v.asDict().items()}
    except ImportError:  # pragma: no cover
        pass
    if isinstance(v, (list, tuple)):
        return [_json_cell(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_cell(x) for k, x in v.items()}
    return v


class _Jobs:
    """Bounded in-memory job store (the reference's JobsService role at
    result-set scale): submitted statements record state + up to
    `max_stored` rows for paging; oldest finished jobs evict first."""

    def __init__(self, cap: int = 64):
        self._jobs: dict[str, dict] = {}
        self._lock = threading.Lock()
        self._cap = cap

    def create(self) -> str:
        import uuid

        jid = uuid.uuid4().hex[:16]
        with self._lock:
            self._jobs[jid] = {"state": "RUNNING", "rows": [],
                               "schema": [], "error": None,
                               "accelerated_by": None}
            done = [j for j, st in self._jobs.items()
                    if st["state"] != "RUNNING"]
            while len(self._jobs) > self._cap and done:
                self._jobs.pop(done.pop(0))
        return jid

    def finish(self, jid: str, **fields) -> None:
        with self._lock:
            job = self._jobs.get(jid)
            if job is None:
                return
            # CANCELED is terminal: a worker's COMPLETED/FAILED landing
            # after a cancel must not overwrite what the client was
            # already told (check-and-set under THIS lock — the worker's
            # own pre-check races otherwise)
            state = fields.pop("state", None)
            if job["state"] == "CANCELED" and state != "CANCELED":
                return
            # state flips LAST: readers poll job["state"] without this
            # lock, so rows/schema must be in place before COMPLETED is
            # observable (dict.update applies kwargs in caller order)
            job.update(fields)
            if state is not None:
                job["state"] = state

    def get(self, jid: str) -> dict | None:
        with self._lock:
            return self._jobs.get(jid)


class _Handler(BaseHTTPRequestHandler):
    engine = None          # set by serve_rest_background
    default_limit = 500    # DAC-style result cap
    max_stored = 10_000    # per-job stored-row cap for paging
    token: str | None = None
    # ops-route filesystem confinement: when set, backup/restore/
    # export-profiles paths must resolve under this directory
    backup_root: str | None = None
    jobs: _Jobs = None
    # saved SQL scripts (the reference's ScriptsResource.java:61 — the
    # SQL-runner's persistence surface): id -> {name, content, ...}
    scripts: dict = None
    # collaboration wiki + tags per catalog entity
    # (CollaborationResource.java:43): entity-id -> {"tag": {"tags",
    # "version"}, "wiki": {"text", "version"}}; versions are the
    # reference's optimistic-concurrency guards
    collab: dict = None
    # DAC UI-backend services (dac_rest.py): explore/transform version
    # store, home-space uploads, session + temporary tokens, per-user
    # SQL-runner tab sessions (SQLRunnerResource.java)
    explore = None
    home = None
    tokens = None
    sqlrunner: dict = None
    # per-user STARRED entities (UserPreferenceResource.java)
    prefs: dict = None

    def log_message(self, *a):  # quiet
        pass

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _authed(self) -> bool:
        hdr = self.headers.get("Authorization") or ""
        bearer = hdr[7:] if hdr.startswith("Bearer ") else None
        if self.tokens is not None:
            # session tokens (POST /login) authenticate any route;
            # temp tokens only their minted path until expiry
            from urllib.parse import parse_qs, urlparse

            qtok = parse_qs(urlparse(self.path).query).get(
                "token", [None])[0]
            if self.tokens.check(bearer or qtok, self.path):
                return True
        if not self.token:
            return True
        return bearer == self.token

    # -- catalog entities (CatalogResource.java:57) ----------------------
    def _vds_entity(self, space: str, name: str) -> dict:
        return {"entityType": "dataset", "type": "VIRTUAL_DATASET",
                "id": f"dataset/{space}.{name}",
                "path": [space] + name.split("."),
                "sql": self.engine.spaces[space].vds[name]}

    def _space_entity(self, name: str) -> dict:
        sp = self.engine.spaces[name]
        children = (
            [{"id": f"dataset/{name}.{v}", "type": "VIRTUAL_DATASET",
              "path": [name] + v.split(".")} for v in sorted(sp.vds)]
            + [{"id": f"folder/{name}.{f}", "type": "CONTAINER",
                "containerType": "FOLDER",
                "path": [name] + f.split(".")}
               for f in sorted(sp.folders)])
        return {"entityType": "space", "id": f"space/{name}",
                "name": name, "children": children}

    def _entity_by_id(self, eid: str) -> dict | None:
        kind, _, rest = eid.partition("/")
        if kind == "space" and rest in self.engine.spaces:
            return self._space_entity(rest)
        if kind == "dataset":
            space, _, name = rest.partition(".")
            sp = self.engine.spaces.get(space)
            if sp and name in sp.vds:
                return self._vds_entity(space, name)
        if kind == "table":
            try:
                df = self.engine.spark.table(rest)
            except Exception:  # noqa: BLE001
                return None
            return {"entityType": "dataset",
                    "type": "PHYSICAL_DATASET",
                    "id": eid, "path": [rest],
                    "fields": [{"name": f.name,
                                "type": f.dataType.simpleString()}
                               for f in df.schema.fields]}
        return None

    def _reflection_entity(self, name: str) -> dict | None:
        store = getattr(self.engine, "_refl_store", None)
        if store is None:
            return None
        r = store._reflections.get(name)
        if r is not None:
            return {"id": f"reflection/{name}", "name": name,
                    "type": "AGGREGATION", "datasetId": r.table,
                    "dimensionFields": [{"name": d} for d in r.dims],
                    "measureFields": [
                        {"name": m.col,
                         "measureTypeList": [m.kind.upper()]}
                        for m in r.measures],
                    "status": {"availability": "AVAILABLE"
                               if not (r.invalid or r.stale)
                               else "EXPIRED"}}
        rr = store._raw.get(name)
        if rr is not None:
            return {"id": f"reflection/{name}", "name": name,
                    "type": "RAW", "datasetId": rr.table,
                    "displayFields": [{"name": c} for c in rr.cols],
                    "status": {"availability": "AVAILABLE"
                               if not (rr.invalid or rr.stale)
                               else "EXPIRED"}}
        return None

    def do_GET(self):
        from urllib.parse import unquote

        if not self._authed():
            return self._send(401, {"errorMessage": "unauthorized"})
        if self.path == "/health":
            return self._send(200, {"status": "ok"})
        from . import dac_rest

        if dac_rest.handle(self, "GET"):
            return None
        from urllib.parse import parse_qs as _pq
        from urllib.parse import urlparse as _up

        if _up(self.path).path.rstrip("/") == "/api/v3/catalog":
            # ?include=datasetCount attaches CatalogItemStats to
            # containers (CatalogResource.java:75 include param over
            # CatalogServiceHelper's BoundedDatasetCount) — catalog
            # dict sizes, no data touched, never bounded here
            want_stats = "datasetCount" in _pq(
                _up(self.path).query).get("include", [])
            try:
                with _ENGINE_LOCK:
                    rows = [
                        {"name": r["table_name"],
                         "schema": r["table_schema"],
                         "type": r["table_type"],
                         "id": f"table/{r['table_name']}"}
                        for r in
                        self.engine.information_schema_tables().collect()]
                    rows += [
                        {"name": s, "schema": "", "type": "CONTAINER",
                         "entityType": "space", "id": f"space/{s}",
                         **({"stats": {
                             "datasetCount":
                                 len(self.engine.spaces[s].vds),
                             "datasetCountBounded": False}}
                            if want_stats else {})}
                        for s in sorted(self.engine.spaces)]
            except Exception as e:  # error envelope, like the POST path
                return self._send(500, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
            return self._send(200, {"data": rows})
        if self.path.startswith("/api/v3/catalog/by-path/"):
            segs = [unquote(s) for s in
                    self.path[len("/api/v3/catalog/by-path/"):]
                    .rstrip("/").split("/") if s]
            with _ENGINE_LOCK:
                if len(segs) == 1:
                    ent = (self._entity_by_id(f"space/{segs[0]}")
                           or self._entity_by_id(f"table/{segs[0]}"))
                else:
                    ent = self._entity_by_id(
                        f"dataset/{segs[0]}.{'.'.join(segs[1:])}")
            if ent is None:
                return self._send(404, {"errorMessage":
                                        f"no entity at {'/'.join(segs)}"})
            return self._send(200, ent)
        c_eid, c_kind = self._collab_route()
        if c_kind:
            # GET /api/v3/catalog/{id}/collaboration/tag|wiki
            # (CollaborationResource.java:52-70): absent entries answer
            # the empty shape, like the reference's orElseGet defaults
            with _ENGINE_LOCK:
                if self._entity_by_id(c_eid) is None:
                    return self._send(404, {"errorMessage":
                                            f"no entity {c_eid}"})
                ent = (self.collab.get(c_eid) or {}).get(c_kind)
            if c_kind == "tag":
                return self._send(200, ent or {"tags": [],
                                               "version": None})
            return self._send(200, ent or {"text": "", "version": None})
        if (self.path.startswith("/api/v3/catalog/")
                and "/by-path/" not in self.path
                and not self.path.startswith("/api/v3/catalog/search")):
            eid = unquote(self.path[len("/api/v3/catalog/"):].rstrip("/"))
            with _ENGINE_LOCK:
                ent = self._entity_by_id(eid)
            if ent is None:
                return self._send(404,
                                  {"errorMessage": f"no entity {eid}"})
            return self._send(200, ent)
        if self.path.startswith("/api/v3/catalog/search"):
            # CatalogResource.search: substring match over entity names
            # AND collaboration tags (SearchServiceImpl indexes the
            # CollaborationTagStore alongside names; results carry tags)
            from urllib.parse import parse_qs, urlparse

            q = parse_qs(urlparse(self.path).query).get(
                "query", [""])[0].lower()
            with _ENGINE_LOCK:
                hits = self._catalog_search(q)
            return self._send(200, {"data": hits})
        from urllib.parse import parse_qs, urlparse

        if urlparse(self.path).path.rstrip("/") == "/api/v3/scripts":
            q = parse_qs(urlparse(self.path).query)
            search = (q.get("search", [""])[0] or "").lower()
            data = [sc for sc in self.scripts.values()
                    if search in sc["name"].lower()]
            data.sort(key=lambda sc: sc["name"])
            return self._send(200, {"data": data, "total": len(data)})
        if self.path.startswith("/api/v3/scripts/"):
            sid = self.path[len("/api/v3/scripts/"):].rstrip("/")
            sc = self.scripts.get(sid)
            if sc is None:
                return self._send(404,
                                  {"errorMessage": f"no script {sid}"})
            return self._send(200, sc)
        if self.path.rstrip("/") == "/api/v3/reflection":
            store = getattr(self.engine, "_refl_store", None)
            names = ([] if store is None else
                     sorted(list(store._reflections)
                            + list(store._raw)))
            with _ENGINE_LOCK:
                return self._send(200, {
                    "data": [self._reflection_entity(n) for n in names]})
        if self.path.startswith("/api/v3/reflection/"):
            name = unquote(
                self.path[len("/api/v3/reflection/"):].rstrip("/"))
            with _ENGINE_LOCK:
                ent = self._reflection_entity(name)
            if ent is None:
                return self._send(404, {"errorMessage":
                                        f"no reflection {name}"})
            return self._send(200, ent)
        if self.path.startswith("/api/v3/job/"):
            from urllib.parse import parse_qs, urlparse

            u = urlparse(self.path)
            parts = u.path.rstrip("/").split("/")
            jid = parts[4] if len(parts) > 4 else ""
            if len(parts) == 6 and parts[5] == "profile":
                # GET /api/v3/job/{id}/profile — the reference's query
                # profile (JobProfileResource.java:64): plan text +
                # per-phase stage metrics + per-operator SQLMetrics;
                # answers for library-profiled jobs too, so the lookup
                # is telemetry-first
                prof = self.engine.job_telemetry.profile(jid)
                if prof is None:
                    return self._send(404, {"errorMessage":
                                            f"no profile for job {jid}"})
                return self._send(200, prof)
            job = self.jobs.get(jid)
            if job is None:
                return self._send(404, {"errorMessage": f"no job {jid}"})
            if len(parts) == 5:  # GET /api/v3/job/{id}: state poll
                out = {"id": jid, "jobState": job["state"],
                       "rowCount": len(job["rows"]),
                       "accelerated_by": job["accelerated_by"]}
                if job["error"]:
                    out["errorMessage"] = job["error"]
                return self._send(200, out)
            if len(parts) == 6 and parts[5] == "results":
                if job["state"] == "RUNNING":
                    return self._send(400, {"errorMessage":
                                            "job still running"})
                if job["state"] == "FAILED":
                    return self._send(400, {"errorMessage": job["error"]})
                q = parse_qs(u.query)
                try:
                    offset = int(q.get("offset", ["0"])[0])
                    limit = int(q.get("limit",
                                      [str(self.default_limit)])[0])
                except ValueError:
                    return self._send(400, {"errorMessage":
                                            "bad offset/limit"})
                page = job["rows"][offset:offset + limit]
                return self._send(200, {
                    "schema": job["schema"], "rows": page,
                    "rowCount": len(job["rows"]),
                    "offset": offset, "returned": len(page)})
        for tool in ("tableau", "powerbi"):
            prefix = f"/api/v3/{tool}/"
            if not self.path.startswith(prefix):
                continue
            # GET /api/v3/tableau|powerbi/{entity-id}?port= — BI connect
            # files (TableauResource.java:44 / PowerBIResource.java over
            # BaseBIToolResource): a .tds / .pbids attachment pointing
            # the BI tool at this engine's Flight SQL endpoint
            from urllib.parse import parse_qs, urlparse

            from .bi import powerbi_pbids, tableau_tds

            u = urlparse(self.path)
            eid = unquote(u.path[len(prefix):].rstrip("/"))
            with _ENGINE_LOCK:
                ent = self._entity_by_id(eid)
            if ent is None:
                return self._send(404, {"errorMessage":
                                        f"no entity {eid}"})
            dataset = eid.partition("/")[2]  # name after the kind
            host = (self.headers.get("Host") or "localhost").split(":")[0]
            try:
                flight_port = int(
                    parse_qs(u.query).get("port", ["32010"])[0])
            except ValueError:
                return self._send(400, {"errorMessage": "bad port"})
            fname = dataset.rpartition(".")[2] or dataset
            if tool == "tableau":
                body = tableau_tds(dataset, host, flight_port).encode()
                ctype = "application/tds"
                fname += ".tds"
            else:
                body = json.dumps(
                    powerbi_pbids(dataset, host, flight_port),
                    indent=2).encode()
                ctype = "application/json"
                fname += ".pbids"
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Disposition",
                             f'attachment; filename="{fname}"')
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            return None
        if self.path.startswith("/api/v3/user/"):
            # GET /user/{id} and /user/by-name/{name}
            # (dac/api/UserResource.java:77-167; ids are names here,
            # so both routes answer from the same store)
            name = unquote(self.path[len("/api/v3/user/"):].rstrip("/"))
            if name.startswith("by-name/"):
                name = name[len("by-name/"):]
            with _ENGINE_LOCK:
                u = self.engine.get_user(name)
            if u is None:
                return self._send(404, {"errorMessage":
                                        f"no user {name}"})
            return self._send(200, u)
        if urlparse(self.path).path.rstrip("/") == "/api/v3/users":
            # UsersResource listing/search (?filter= substring)
            q = parse_qs(urlparse(self.path).query)
            with _ENGINE_LOCK:
                users = self.engine.list_users(
                    q.get("filter", [""])[0])
            return self._send(200, {"users": users})
        if self.path.rstrip("/") == "/api/v3/roles":
            with _ENGINE_LOCK:
                return self._send(200,
                                  {"roles": self.engine.list_roles()})
        if self.path.rstrip("/") == "/api/v3/source":
            # source listing (dac/api SourceResource shape: name +
            # type + config)
            with _ENGINE_LOCK:
                data = ([{"name": n, "type": "NAS",
                          "config": {"path": p}}
                         for n, p in sorted(
                             self.engine._sources.items())]
                        + [{"name": n, "type": "NESSIE",
                            "config": {"path": p}}
                           for n, p in sorted(
                               self.engine._versioned_sources.items())])
            return self._send(200, {"data": data})
        if urlparse(self.path).path.startswith("/api/v3/source/"):
            name = unquote(urlparse(self.path).path
                           [len("/api/v3/source/"):].rstrip("/"))
            with _ENGINE_LOCK:
                if name in self.engine._sources:
                    return self._send(200, {
                        "name": name, "type": "NAS",
                        "config": {"path": self.engine._sources[name]},
                        "tables":
                            self.engine.list_dir_source_tables(name)})
                if name in self.engine._versioned_sources:
                    from ..sources import dataplane as dp
                    root = self.engine._versioned_sources[name]
                    refs = dp._load_refs(root)
                    return self._send(200, {
                        "name": name, "type": "NESSIE",
                        "config": {"path": root},
                        "branches": sorted(refs["branches"]),
                        "tags": sorted(refs.get("tags", ()))})
            return self._send(404, {"errorMessage": f"no source {name}"})
        _stats_path = urlparse(self.path).path.rstrip("/")
        if _stats_path == "/api/v3/cluster/jobstats":
            # daily job counts (DailyJobStatsResource.java:88
            # /cluster/jobstats?start=&end=) from the telemetry store
            q = parse_qs(urlparse(self.path).query)
            try:
                stats = self.engine.job_telemetry.daily_stats(
                    int(q.get("start", ["0"])[0]),
                    int(q.get("end", ["0"])[0]))
            except ValueError:
                return self._send(400, {"errorMessage":
                                        "bad start/end"})
            return self._send(200, {"edition": "spark-oss",
                                    "jobStats": stats})
        if _stats_path == "/api/v3/stats/jobsandusers":
            # per-day jobs + unique users
            # (JobAndUserStatsResource.java:57 ?numDaysBack=)
            import time as _time

            q = parse_qs(urlparse(self.path).query)
            try:
                days_back = int(q.get("numDaysBack", ["7"])[0])
            except ValueError:
                return self._send(400, {"errorMessage":
                                        "bad numDaysBack"})
            start = int(_time.time() * 1000) - days_back * 86_400_000
            return self._send(200, {
                "edition": "spark-oss",
                "stats": self.engine.job_telemetry.daily_stats(start)})
        if _stats_path == "/api/v3/cluster/stats":
            # catalog + job totals (ClusterStatsResource.java:97)
            with _ENGINE_LOCK:
                n_tables = (self.engine.information_schema_tables()
                            .count())
                vds = sum(len(sp.vds) for sp in
                          self.engine.spaces.values())
                sources = (sorted(self.engine._versioned_sources)
                           + sorted(self.engine._sources))
            jobs = self.engine.job_telemetry.listing(limit=1)["total"]
            return self._send(200, {
                "edition": "spark-oss",
                "sources": [{"name": s} for s in sources],
                "datasets": {"tables": n_tables, "vds": vds},
                "jobs": {"tracked": jobs}})
        if urlparse(self.path).path.rstrip("/") == "/api/v3/sql/functions":
            # function registry for the SQL editor
            # (FunctionsListService.java:66 via SQLResource @Path
            # /sql/functions): names + signatures + descriptions;
            # ?builtins=true appends Spark's own registry name-level
            q = parse_qs(urlparse(self.path).query)
            want_builtins = (q.get("builtins", ["false"])[0].lower()
                             == "true")
            with _ENGINE_LOCK:
                fns = self.engine.functions_list(
                    include_builtins=want_builtins)
            return self._send(200, {"functions": fns})
        _jd_path = urlparse(self.path).path.rstrip("/")
        if (_jd_path.startswith("/api/v3/jobs-listing/")
                and _jd_path.endswith("/jobDetails")):
            # GET /jobs-listing/{jobId}/jobDetails
            # (JobsListingResource.java:131 getJobDetails) — same
            # profile document the /job/{id}/profile route serves
            jid = _jd_path[len("/api/v3/jobs-listing/"):
                           -len("/jobDetails")].rstrip("/")
            prof = self.engine.job_telemetry.profile(jid)
            if prof is None:
                return self._send(404, {"errorMessage":
                                        f"no job {jid}"})
            return self._send(200, prof)
        if (_jd_path.startswith("/api/v3/jobs-listing/")
                and _jd_path.endswith("/datasetGraph")):
            # GET /jobs-listing/{jobId}/datasetGraph
            # (JobsListingResource.java:166 — the jobs page's dataset
            # lineage panel: referenced datasets, VDS parent chains,
            # reflections per dataset)
            jid = _jd_path[len("/api/v3/jobs-listing/"):
                           -len("/datasetGraph")].rstrip("/")
            prof = self.engine.job_telemetry.profile(jid)
            if prof is None:
                return self._send(404, {"errorMessage":
                                        f"no job {jid}"})
            with _ENGINE_LOCK:
                graph = self.engine.dataset_graph(prof["queryText"])
            return self._send(200, {"datasetGraph": graph})
        if urlparse(self.path).path.rstrip("/") == "/api/v3/jobs-listing":
            # filterable jobs listing (JobsListingResource.java:92-132):
            # ?filter=<sql substring>&state=&user=&sort=&order=&offset=&limit=
            q = parse_qs(urlparse(self.path).query)

            def one(key, default=""):
                return q.get(key, [default])[0]

            try:
                listing = self.engine.job_telemetry.listing(
                    filter_text=one("filter"), state=one("state"),
                    user=one("user"), sort=one("sort", "startTime"),
                    order=one("order", "desc"),
                    offset=int(one("offset", "0")),
                    limit=int(one("limit", "100")))
            except ValueError:
                return self._send(400, {"errorMessage":
                                        "bad offset/limit"})
            return self._send(200, listing)
        return self._send(404, {"errorMessage": f"no route {self.path}"})

    def _exec_tracked(self, jid: str, sql: str, n_collect: int
                      ) -> tuple:
        """The one tracked-execution path both the async worker and the
        sync POST share: tag the thread's Spark jobs with the REST job
        id (so /job/{id}/cancel reaches the running stages —
        JobResource.java:158), record telemetry (start/planned/
        complete), classify + queue-admit the execution under WLM
        (BasicResourceAllocator.java:155), store the result in the job
        store.  Returns (df, rows, json_rows, schema, accelerated);
        raises after recording FAILED on both stores.  Both raced
        cancels are safe store-side: CANCELED is terminal in _Jobs and
        the telemetry store, so the late COMPLETED/FAILED no-ops."""
        import time as _time

        sc = self.engine.spark.sparkContext
        group = f"rest-job-{jid}"
        sc.setJobGroup(group, f"REST job {jid}", True)
        tel = self.engine.job_telemetry
        tel.start(jid, sql, user="$dremio$", query_type="REST",
                  job_group=group)
        try:
            t_plan = _time.perf_counter()
            with _ENGINE_LOCK:
                df = self.engine.sql(sql)
                accelerated = getattr(
                    self.engine, "last_plan_accelerated", None)
                # snapshot INSIDE the lock, like accelerated: another
                # job's planning overwrites the engine attr otherwise
                considered = list(getattr(
                    self.engine, "last_plan_considered", []))
            # cost-based WLM routing: classify by Catalyst's plan-size
            # estimate, queue-admit the EXECUTION (planning never
            # queues — the reference costs at plan time and queues the
            # fragments)
            wm = self.engine._workload()
            try:
                qname = wm.classify(df)
            except Exception:  # noqa: BLE001 — command frames lack stats
                qname = "SMALL"
            tel.planned(jid, (_time.perf_counter() - t_plan) * 1000,
                        accelerated_by=accelerated, wlm_queue=qname,
                        considered=considered)
            # execution runs OUTSIDE the engine lock: engine.sql already
            # analyzed the plan (views expanded, policies applied, state
            # restored), so concurrent jobs interleave at the Spark
            # scheduler — the reference's concurrent jobs service shape
            # (ForemenWorkManager.java:715) with only statement PLANNING
            # serialized.  For a mutating statement engine.sql executes
            # the commit itself, so DML/DDL stays fully serialized.
            t_exec = _time.perf_counter()
            with wm.admit_to(qname):
                rows = df.limit(n_collect).collect()
            exec_ms = (_time.perf_counter() - t_exec) * 1000
            names = [f.name for f in df.schema.fields]
            if len(set(names)) == len(names):
                json_rows = [{k: _json_cell(v) for k, v in
                              r.asDict().items()} for r in rows]
            else:
                # duplicate output names (SELECT a, a) cannot live in
                # a JSON object: store POSITIONAL cell lists instead
                # (schema carries the names) so every consumer of the
                # stored result — /results pages, /download, the run
                # first page — keeps both cells distinct; the results
                # and download routes are both list-aware
                json_rows = [[_json_cell(v) for v in r]
                             for r in rows]
            schema = [{"name": f.name,
                       "type": f.dataType.simpleString()}
                      for f in df.schema.fields]
            self.jobs.finish(jid, state="COMPLETED", schema=schema,
                             rows=json_rows[:self.max_stored],
                             accelerated_by=accelerated)
            tel.complete(jid, state="COMPLETED", execution_ms=exec_ms,
                         row_count=len(rows))
            return df, rows, json_rows, schema, accelerated
        except Exception as e:  # noqa: BLE001 — recorded on the job
            err = f"{type(e).__name__}: {e}"
            tel.complete(jid, state="FAILED", error=err)
            self.jobs.finish(jid, state="FAILED", error=err)
            raise
        finally:
            clear_job_group(sc)

    def _run_job(self, jid: str, sql: str) -> None:
        """Async worker-thread wrapper: errors are already recorded on
        the job store, nothing to send."""
        try:
            self._exec_tracked(jid, sql, self.max_stored)
        except Exception:  # noqa: BLE001 — recorded by _exec_tracked
            pass

    def _catalog_search(self, q: str) -> list[dict]:
        """Substring search over entity names AND collaboration tags
        (the reference's SearchServiceImpl joins the name index with
        CollaborationTagStore rows, so a dataset tagged "pii" is found
        by ?query=pii even when no name matches).  Caller holds the
        engine lock.  Every hit carries its tags like the reference's
        search results."""

        def tags_of(eid: str) -> list[str]:
            ent = (self.collab.get(eid) or {}).get("tag")
            return ent["tags"] if ent else []

        def tag_match(eid: str) -> bool:
            return any(q in t.lower() for t in tags_of(eid))

        hits = []
        for r in self.engine.information_schema_tables().collect():
            eid = f"table/{r['table_name']}"
            if q in r["table_name"].lower() or tag_match(eid):
                hits.append({"name": r["table_name"],
                             "type": r["table_type"], "id": eid,
                             "tags": tags_of(eid)})
        for sname, sp in self.engine.spaces.items():
            eid = f"space/{sname}"
            if q in sname.lower() or tag_match(eid):
                hits.append({"name": sname, "type": "CONTAINER",
                             "id": eid, "tags": tags_of(eid)})
            for v in sp.vds:
                eid = f"dataset/{sname}.{v}"
                if q in v.lower() or tag_match(eid):
                    hits.append({"name": f"{sname}.{v}",
                                 "type": "VIRTUAL_DATASET", "id": eid,
                                 "tags": tags_of(eid)})
        return hits

    def _collab_route(self) -> tuple[str | None, str | None]:
        """(entity-id, 'tag'|'wiki') when the path is a collaboration
        route (CollaborationResource.java:40 `@Path(\"/catalog/{id}/
        collaboration\")`), else (None, None)."""
        from urllib.parse import unquote

        p = self.path.rstrip("/")
        if not p.startswith("/api/v3/catalog/"):
            return None, None
        for kind in ("tag", "wiki"):
            suf = f"/collaboration/{kind}"
            if p.endswith(suf):
                eid = unquote(p[len("/api/v3/catalog/"):-len(suf)])
                return eid, kind
        return None, None

    def _set_collab(self, eid: str, kind: str, req: dict) -> tuple:
        """Set tags/wiki with the reference's optimistic-concurrency
        contract (CollaborationHelper.validateVersions): a POST that
        carries a version not matching the stored one is a CONCURRENT
        MODIFICATION (409); the first write needs no version.  Returns
        (status, payload)."""
        with _ENGINE_LOCK:
            if self._entity_by_id(eid) is None:
                return 404, {"errorMessage": f"no entity {eid}"}
            ent = self.collab.setdefault(eid, {})
            cur = ent.get(kind)
            sent = req.get("version")
            if cur is not None and sent != cur["version"]:
                return 409, {"errorMessage":
                             f"version mismatch for {eid} {kind}: "
                             f"expected {cur['version']!r}, got "
                             f"{sent!r}"}
            if kind == "tag":
                tags = req.get("tags")
                if (not isinstance(tags, list)
                        or not all(isinstance(t, str) for t in tags)):
                    return 400, {"errorMessage":
                                 "tags must be a list of strings"}
                ver = str(int(cur["version"]) + 1) if cur else "0"
                ent["tag"] = {"tags": tags, "version": ver}
                return 200, ent["tag"]
            text = req.get("text")
            if not isinstance(text, str):
                return 400, {"errorMessage": "text must be a string"}
            ver = (cur["version"] + 1) if cur else 0
            ent["wiki"] = {"text": text, "version": ver}
            return 200, ent["wiki"]

    def _read_json(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        req = json.loads(self.rfile.read(n) or b"{}")
        if not isinstance(req, dict):
            raise ValueError("body must be a JSON object")
        return req

    def _create_catalog_entity(self, req: dict):
        """POST /api/v3/catalog (CatalogResource.createCatalogItem):
        spaces, folders, and VIRTUAL_DATASET (VDS) bodies."""
        et = req.get("entityType")
        if et == "space":
            self.engine.create_space(req["name"])
            return self._space_entity(req["name"])
        if et == "folder":
            path = req["path"]
            self.engine.create_folder(path[0], ".".join(path[1:]))
            return {"entityType": "folder",
                    "id": f"folder/{path[0]}.{'.'.join(path[1:])}",
                    "path": path}
        if et == "dataset" and req.get("type") == "VIRTUAL_DATASET":
            path, sql = req["path"], req["sql"]
            self.engine.create_vds(path[0], ".".join(path[1:]), sql)
            return self._vds_entity(path[0], ".".join(path[1:]))
        raise ValueError(f"unsupported entityType {et!r}")

    def _create_reflection(self, req: dict):
        """POST /api/v3/reflection (ReflectionResource.createReflection):
        translate the Reflection body into the engine's reflection DDL
        so the SQL and REST surfaces create identical objects."""
        name, ds = req["name"], req["datasetId"]
        if req.get("type") == "RAW":
            cols = ", ".join(f["name"] for f in req["displayFields"])
            self.engine.sql(
                f"ALTER TABLE {ds} CREATE RAW REFLECTION {name} "
                f"USING DISPLAY ({cols})")
        else:
            # ReflectionDimensionField carries an optional granularity
            # (reflection-intent.proto:79, DATE|NORMAL): DATE renders
            # as the BY DAY sugar, materializing cast(col as date)
            dims = ", ".join(
                f["name"] + (" BY DAY"
                             if str(f.get("granularity", "")
                                    ).upper() == "DATE" else "")
                for f in req.get("dimensionFields", []))
            meas = ", ".join(
                f"{f['name']} ({', '.join(f.get('measureTypeList') or ['SUM'])})"
                for f in req.get("measureFields", []))
            self.engine.sql(
                f"ALTER TABLE {ds} CREATE AGGREGATE REFLECTION {name} "
                f"USING DIMENSIONS ({dims}) MEASURES ({meas})")
        return self._reflection_entity(name)

    def do_POST(self):
        from urllib.parse import unquote

        from . import dac_rest

        # login runs BEFORE the bearer check — it's how a client gets
        # a bearer (LogInLogOutResource.java:92)
        if dac_rest.handle_login_post(self):
            return None
        if not self._authed():
            return self._send(401, {"errorMessage": "unauthorized"})
        if dac_rest.handle(self, "POST"):
            return None
        if self.path.rstrip("/") == "/api/v3/catalog":
            try:
                with _ENGINE_LOCK:
                    ent = self._create_catalog_entity(self._read_json())
                return self._send(200, ent)
            except Exception as e:  # noqa: BLE001 — error envelope
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path.rstrip("/") == "/api/v3/sql/autocomplete":
            # SQL-editor suggestions (SQLResource.java:111,
            # AutocompleteProxy.java: CONTAINER/COLUMN/REFERENCE over
            # {prefix, type, catalogEntityKeys})
            try:
                req = self._read_json()
                with _ENGINE_LOCK:
                    resp = self.engine.autocomplete_suggestions(
                        prefix=req.get("prefix", ""),
                        kind=req.get("type", "CONTAINER"),
                        keys=req.get("catalogEntityKeys"))
                return self._send(200, resp)
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path.rstrip("/") == "/api/v3/source":
            # POST /source — attach a source (SourceResource create):
            # NAS/dfs = a directory whose files/folders are tables,
            # NESSIE = a versioned (dataplane) catalog source
            try:
                req = self._read_json()
                name, stype = req["name"], req.get("type", "NAS").upper()
                path = (req.get("config") or {}).get("path") \
                    or req.get("path")
                if not path:
                    raise ValueError("config.path required")
                with _ENGINE_LOCK:
                    if (name in self.engine._sources
                            or name in self.engine._versioned_sources):
                        return self._send(409, {
                            "errorMessage":
                                f"source {name} already exists"})
                    if stype == "NESSIE":
                        self.engine.create_versioned_source(name, path)
                    elif stype in ("NAS", "DFS", "FILESYSTEM"):
                        self.engine.create_dir_source(name, path)
                    else:
                        raise ValueError(
                            f"unsupported source type {stype}")
                return self._send(200, {"name": name, "type": stype,
                                        "config": {"path": path}})
            except ValueError as e:
                return self._send(400, {"errorMessage": str(e)})
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path.startswith("/api/v3/dataset/"):
            # POST /dataset/{id}/reflection/recommendation[/{type}]
            # (DatasetResource.java:82-89): Reflection-body-shaped
            # candidates, each POSTable straight to /reflection
            rest = self.path[len("/api/v3/dataset/"):].rstrip("/")
            m = (rest.rsplit("/reflection/recommendation", 1)
                 if "/reflection/recommendation" in rest else None)
            if m is not None:
                eid, tail = m[0], m[1].lstrip("/")
                rtype = tail or "ALL"
                ds = unquote(eid).partition("/")[2] or unquote(eid)
                with _ENGINE_LOCK:
                    if self._entity_by_id(unquote(eid)) is None:
                        return self._send(404, {"errorMessage":
                                                f"no dataset {eid}"})
                    try:
                        recs = self.engine.reflection_recommendations(
                            ds, rtype)
                    except ValueError as e:
                        return self._send(400,
                                          {"errorMessage": str(e)})
                return self._send(200, {"data": recs})
        if self.path.rstrip("/") == "/api/v3/user":
            # POST /user — create (dac/api/UserResource.java:84)
            try:
                req = self._read_json()
                with _ENGINE_LOCK:
                    u = self.engine.create_user(
                        req["name"],
                        **{k: v for k, v in req.items() if k != "name"})
                return self._send(200, u)
            except ValueError as e:
                return self._send(409, {"errorMessage": str(e)})
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path.rstrip("/") == "/api/v3/role":
            try:
                req = self._read_json()
                with _ENGINE_LOCK:
                    r = self.engine.create_role(req["name"])
                return self._send(200, r)
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        m_member = (self.path.startswith("/api/v3/role/")
                    and self.path.rstrip("/").endswith("/member"))
        if m_member:
            # POST /role/{name}/member {"name": principal} — membership
            # edge, same store GRANT ROLE writes
            role = self.path[len("/api/v3/role/"):].rstrip("/")
            role = role[:-len("/member")]
            try:
                req = self._read_json()
                with _ENGINE_LOCK:
                    self.engine.grant_role(role, req["name"])
                    out = [r for r in self.engine.list_roles()
                           if r["name"] == role][0]
                return self._send(200, out)
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        c_eid, c_kind = self._collab_route()
        if c_kind:
            # POST /api/v3/catalog/{id}/collaboration/tag|wiki
            # (CollaborationResource.java:58-76 setTags/setWiki)
            try:
                req = self._read_json()
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
            code, payload = self._set_collab(c_eid, c_kind, req)
            return self._send(code, payload)
        m_refresh = (self.path.startswith("/api/v3/catalog/")
                     and self.path.rstrip("/").endswith("/refresh"))
        if m_refresh:
            eid = unquote(self.path[len("/api/v3/catalog/"):]
                          .rstrip("/")[:-len("/refresh")])
            kind, _, rest = eid.partition("/")
            try:
                with _ENGINE_LOCK:
                    # REFRESH DATASET semantics: re-pin file metadata
                    # and mark dependent reflections stale
                    self.engine.refresh_dataset(rest)
                return self._send(200, {"id": eid, "refreshed": True})
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path.startswith("/api/v3/catalog/search"):
            # CatalogResource.search: substring match over entity names
            # AND collaboration tags (SearchServiceImpl indexes the
            # CollaborationTagStore alongside names; results carry tags)
            from urllib.parse import parse_qs, urlparse

            q = parse_qs(urlparse(self.path).query).get(
                "query", [""])[0].lower()
            with _ENGINE_LOCK:
                hits = self._catalog_search(q)
            return self._send(200, {"data": hits})
        if self.path.rstrip("/") == "/api/v3/scripts":
            import time as _time
            import uuid as _uuid

            try:
                req = self._read_json()
                sid = _uuid.uuid4().hex[:16]
                sc = {"id": sid, "name": req["name"],
                      "content": req["content"],
                      "createdAt": int(_time.time() * 1000),
                      "modifiedAt": int(_time.time() * 1000)}
                self.scripts[sid] = sc
                return self._send(200, sc)
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path.rstrip("/") == "/api/v3/scripts:batchDelete":
            try:
                ids = self._read_json().get("ids", [])
                deleted = [i for i in ids if self.scripts.pop(i, None)]
                return self._send(200, {"deleted": deleted,
                                        "notFound": [i for i in ids
                                                     if i not in deleted]})
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        m_cancel = (self.path.startswith("/api/v3/job/")
                    and self.path.rstrip("/").endswith("/cancel"))
        if m_cancel:
            jid = self.path[len("/api/v3/job/"):].rstrip("/")
            jid = jid[:-len("/cancel")]
            job = self.jobs.get(jid)
            if job is None:
                return self._send(404, {"errorMessage": f"no job {jid}"})
            if job["state"] != "RUNNING":
                return self._send(400, {"errorMessage":
                                        f"job {jid} already "
                                        f"{job['state']}"})
            # flip state FIRST so the worker's failure handler keeps
            # CANCELED, then kill the tagged Spark stages
            self.jobs.finish(jid, state="CANCELED",
                             error="Query cancelled by user")
            self.engine.job_telemetry.complete(
                jid, state="CANCELED", error="Query cancelled by user")
            self.engine.spark.sparkContext.cancelJobGroup(
                f"rest-job-{jid}")
            return self._send(200, {"id": jid, "jobState": "CANCELED"})
        if (self.path.startswith("/api/v3/catalog/file/")
                and not m_refresh):
            # promoteToDataset (CatalogResource.java:116): format a
            # folder/file of parquet as a named PHYSICAL dataset with a
            # PINNED file listing (engine.promote_folder_dataset — the
            # reference's folder auto-promotion); the id addresses the
            # filesystem path, the body names the dataset
            fs_path = unquote(
                self.path[len("/api/v3/catalog/file/"):].rstrip("/"))
            if not fs_path.startswith("/"):
                fs_path = "/" + fs_path
            try:
                req = self._read_json()
                name = (req.get("path") or [None])[-1] or req.get("name")
                if not name:
                    raise ValueError("body needs path or name")
                with _ENGINE_LOCK:
                    n = self.engine.promote_folder_dataset(name, fs_path)
                return self._send(200, {
                    "entityType": "dataset",
                    "type": "PHYSICAL_DATASET",
                    "id": f"table/{name}", "path": [name],
                    "fileCount": n})
            except FileNotFoundError as e:
                return self._send(404, {"errorMessage": str(e)})
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path.rstrip("/") == "/api/v3/reflection":
            try:
                with _ENGINE_LOCK:
                    ent = self._create_reflection(self._read_json())
                return self._send(200, ent)
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path != "/api/v3/sql":
            return self._send(404, {"errorMessage": f"no route {self.path}"})
        try:
            n = int(self.headers.get("Content-Length") or 0)
            req = json.loads(self.rfile.read(n) or b"{}")
            if not isinstance(req, dict):
                raise ValueError("not an object")
            sql = req["sql"]
            # limit=0 is a legitimate schema-only probe — only None
            # falls back to the DAC-style default
            raw_limit = req.get("limit")
            limit = (self.default_limit if raw_limit is None
                     else int(raw_limit))
            if limit < 0:
                raise ValueError("negative limit")
        except (ValueError, KeyError, TypeError):
            return self._send(400, {"errorMessage": "body must be "
                                                    '{"sql": "..."}'})
        if req.get("async"):
            # reference JobsService flow: submit returns the job id,
            # the statement executes in a worker, GET /job/{id} polls
            jid = self.jobs.create()
            threading.Thread(target=self._run_job, args=(jid, sql),
                             daemon=True).start()
            return self._send(200, {"id": jid, "jobState": "RUNNING"})
        try:
            # {"store": true} widens the collect to max_stored rows so
            # the job can be re-paged beyond `limit` afterwards; the
            # default sync hot path collects exactly `limit` rows, as
            # before the job store existed.  Synchronous POSTs share
            # the async worker's whole tracked-execution path
            # (_exec_tracked: job-group tagging, telemetry, WLM
            # admission, job-store landing) and only differ in who
            # reads the result
            n_collect = (max(limit, self.max_stored)
                         if req.get("store") and limit else limit)
            jid = self.jobs.create()
            _df, _rows, json_rows, schema, accelerated = \
                self._exec_tracked(jid, sql, n_collect)
            payload = {
                "id": jid,
                "schema": schema,
                "rows": json_rows[:limit],
                "rowCount": len(json_rows[:limit]),
                "accelerated_by": accelerated,
            }
            return self._send(200, payload)
        except Exception as e:  # planner/execution error envelope
            # _exec_tracked already recorded FAILED on both stores
            return self._send(400, {"errorMessage":
                                    f"{type(e).__name__}: {e}"})


    def do_PUT(self):
        from urllib.parse import unquote

        from . import dac_rest

        # firstuser bootstrap runs BEFORE the bearer check ONLY on an
        # open (token-less) deployment — it's how a fresh install gets
        # its first admin; the handler itself refuses once any user
        # exists (BootstrapResource.java:77).  When a static service
        # token IS configured, bootstrap must present it: the engine
        # starts with zero users, so an unauthenticated pre-auth
        # bootstrap would let any client mint an admin credential and
        # log in past the configured token.  (The reference has no
        # static-token gate, so ITS pre-auth bootstrap carries no such
        # bypass — ours would.)
        from urllib.parse import urlparse as _up

        if _up(self.path).path.rstrip("/") == \
                "/api/v3/bootstrap/firstuser":
            if self.token and not self._authed():
                return self._send(401,
                                  {"errorMessage": "unauthorized"})
            if dac_rest.handle_bootstrap_put(self):
                return None
        if not self._authed():
            return self._send(401, {"errorMessage": "unauthorized"})
        if dac_rest.handle(self, "PUT"):
            return None
        if self.path.startswith("/api/v3/scripts/"):
            import time as _time

            sid = self.path[len("/api/v3/scripts/"):].rstrip("/")
            sc = self.scripts.get(sid)
            if sc is None:
                return self._send(404,
                                  {"errorMessage": f"no script {sid}"})
            try:
                req = self._read_json()
                sc.update({k: req[k] for k in ("name", "content")
                           if k in req})
                sc["modifiedAt"] = int(_time.time() * 1000)
                return self._send(200, sc)
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if self.path.startswith("/api/v3/user/"):
            # PUT /user/{id} — update with the `tag` optimistic guard
            # (dac/api/UserResource.java:145)
            from ..engine import ConcurrentModificationError

            name = unquote(self.path[len("/api/v3/user/"):].rstrip("/"))
            try:
                req = self._read_json()
                with _ENGINE_LOCK:
                    u = self.engine.update_user(
                        name,
                        **{k: v for k, v in req.items() if k != "name"})
                return self._send(200, u)
            except ConcurrentModificationError as e:
                return self._send(409, {"errorMessage": str(e)})
            except KeyError as e:
                return self._send(404, {"errorMessage": str(e)})
            except Exception as e:  # noqa: BLE001
                return self._send(400, {"errorMessage":
                                        f"{type(e).__name__}: {e}"})
        if not self.path.startswith("/api/v3/catalog/"):
            return self._send(404, {"errorMessage":
                                    f"no route {self.path}"})
        eid = unquote(self.path[len("/api/v3/catalog/"):].rstrip("/"))
        kind, _, rest = eid.partition("/")
        try:
            req = self._read_json()
            if kind != "dataset":
                raise ValueError("only VDS entities are updatable")
            space, _, name = rest.partition(".")
            with _ENGINE_LOCK:
                if (space not in self.engine.spaces
                        or name not in self.engine.spaces[space].vds):
                    return self._send(
                        404, {"errorMessage": f"no entity {eid}"})
                # updateCatalogItem on a VDS: re-define (the engine
                # re-plans and re-registers the view)
                self.engine.create_vds(space, name, req["sql"])
                return self._send(200, self._vds_entity(space, name))
        except Exception as e:  # noqa: BLE001
            return self._send(400, {"errorMessage":
                                    f"{type(e).__name__}: {e}"})

    def do_DELETE(self):
        from urllib.parse import unquote

        if not self._authed():
            return self._send(401, {"errorMessage": "unauthorized"})
        from . import dac_rest

        if dac_rest.handle(self, "DELETE"):
            return None
        if self.path.startswith("/api/v3/scripts/"):
            sid = self.path[len("/api/v3/scripts/"):].rstrip("/")
            if self.scripts.pop(sid, None) is None:
                return self._send(404,
                                  {"errorMessage": f"no script {sid}"})
            return self._send(200, {"deleted": sid})
        if self.path.startswith("/api/v3/user/"):
            name = unquote(self.path[len("/api/v3/user/"):].rstrip("/"))
            with _ENGINE_LOCK:
                if self.engine.get_user(name) is None:
                    return self._send(404, {"errorMessage":
                                            f"no user {name}"})
                self.engine._drop_principal(name)
            return self._send(200, {"deleted": name})
        if self.path.split("?")[0].startswith("/api/v3/source/"):
            from urllib.parse import urlparse as _up

            name = unquote(_up(self.path).path
                           [len("/api/v3/source/"):].rstrip("/"))
            with _ENGINE_LOCK:
                if self.engine._sources.pop(name, None) is not None:
                    return self._send(200, {"deleted": name})
                # versioned sources detach from the catalog; the
                # commit store on disk is NOT deleted (the reference
                # detaches sources without dropping remote data)
                if self.engine._versioned_sources.pop(name, None) \
                        is not None:
                    return self._send(200, {"deleted": name})
            return self._send(404, {"errorMessage": f"no source {name}"})
        if self.path.startswith("/api/v3/role/"):
            rest = unquote(self.path[len("/api/v3/role/"):].rstrip("/"))
            role, _, member = rest.partition("/member/")
            with _ENGINE_LOCK:
                if member:
                    # DELETE /role/{name}/member/{principal} — a typo'd
                    # role or a non-member must NOT look like success
                    if role not in self.engine._roles.get(member, set()):
                        return self._send(404, {
                            "errorMessage":
                                f"{member} is not a member of {role}"})
                    self.engine.revoke_role(role, member)
                    return self._send(200, {"role": role,
                                            "removed": member})
                known = {r["name"] for r in self.engine.list_roles()}
                if role not in known:
                    return self._send(404, {"errorMessage":
                                            f"no role {role}"})
                self.engine._drop_principal(role)
            return self._send(200, {"deleted": role})
        try:
            if self.path.startswith("/api/v3/reflection/"):
                name = unquote(
                    self.path[len("/api/v3/reflection/"):].rstrip("/"))
                with _ENGINE_LOCK:
                    store = self.engine._default_refl_store()
                    if (name not in store._reflections
                            and name not in store._raw):
                        return self._send(
                            404, {"errorMessage": f"no reflection {name}"})
                    store.drop(name)
                return self._send(200, {"deleted": name})
            if self.path.startswith("/api/v3/catalog/"):
                eid = unquote(
                    self.path[len("/api/v3/catalog/"):].rstrip("/"))
                kind, _, rest = eid.partition("/")
                with _ENGINE_LOCK:
                    if kind == "dataset":
                        space, _, name = rest.partition(".")
                        if (space not in self.engine.spaces
                                or name not in
                                self.engine.spaces[space].vds):
                            return self._send(
                                404, {"errorMessage": f"no entity {eid}"})
                        self.engine.drop_vds(space, name)
                    elif kind == "folder":
                        space, _, path = rest.partition(".")
                        self.engine.drop_folder(space, path)
                    elif kind == "space":
                        sp = self.engine.spaces.get(rest)
                        if sp is None:
                            return self._send(
                                404, {"errorMessage": f"no entity {eid}"})
                        if sp.vds:
                            # same contract as the namespace service:
                            # non-empty containers refuse
                            raise ValueError(
                                f"space {rest} not empty: "
                                f"{sorted(sp.vds)}")
                        del self.engine.spaces[rest]
                    else:
                        return self._send(
                            404, {"errorMessage": f"no entity {eid}"})
                return self._send(200, {"deleted": eid})
        except Exception as e:  # noqa: BLE001
            return self._send(400, {"errorMessage":
                                    f"{type(e).__name__}: {e}"})
        return self._send(404, {"errorMessage": f"no route {self.path}"})


def serve_rest_background(engine, port: int = 0,
                          token: str | None = None, tokens=None,
                          backup_root: str | None = "auto"
                          ) -> tuple[ThreadingHTTPServer, threading.Thread]:
    """Bind (ephemeral port by default) and serve in a daemon thread;
    `server.server_address[1]` is the bound port, `server.shutdown()`
    stops it.  Pass a dac_rest.TokenManager as `tokens` to share
    login sessions with a Flight server (`flight.serve_background
    (tokens=...)`); one is created otherwise (also reachable at
    `server.RequestHandlerClass.tokens`).

    `backup_root` confines the admin backup/restore routes.  The
    default "auto" resolves to an `_ops` directory under the Spark
    warehouse dir (the server's data root), so a default deployment
    can never back up to / restore from arbitrary filesystem paths;
    pass an explicit directory to relocate it, or explicit None to
    opt OUT of confinement (dev only)."""
    if backup_root == "auto":
        import tempfile
        try:
            wh = engine.spark.conf.get("spark.sql.warehouse.dir")
            for pfx in ("file://", "file:"):
                if wh.startswith(pfx):
                    wh = wh[len(pfx):]
                    break
            backup_root = os.path.join(wh, "_ops")
        except Exception:  # noqa: BLE001 — no warehouse conf
            backup_root = os.path.join(tempfile.gettempdir(),
                                       "dremio_spark_ops")
    from ..explore import ExploreService
    from ..home import HomeService
    from .dac_rest import TokenManager

    handler = type("BoundHandler", (_Handler,),
                   {"engine": engine, "token": token, "jobs": _Jobs(),
                    "backup_root": backup_root,
                    "scripts": {}, "collab": {}, "sqlrunner": {}, "prefs": {},
                    "explore": ExploreService(engine),
                    "home": HomeService(engine),
                    "tokens": tokens or TokenManager()})
    server = ThreadingHTTPServer(("127.0.0.1", port), handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server, t
