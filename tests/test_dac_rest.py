"""REST tests for the DAC UI-backend routes: explore/transform,
home-space uploads, resource tree, login/temp tokens, jobs filters and
result download (dac_rest.py against the reference's
DatasetVersionResource / HomeResource / ResourceTreeResource /
LogInLogOutResource / TemporaryTokenResource / JobsFiltersResource)."""

from __future__ import annotations

import json as _json
import time
import urllib.request as rq

import pytest

from dremio_oss_spark.catalog import register_testdata
from dremio_oss_spark.engine import Engine
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def rest(spark):
    from dremio_oss_spark.server.rest import serve_rest_background

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.create_user("alice", firstName="Alice")
    # backup_root=None: explicit opt-out of ops-path confinement so
    # the backup tests can target pytest tmp_path dirs (the default
    # "auto" confines to <warehouse>/_ops)
    server, _t = serve_rest_background(eng, backup_root=None)
    port = server.server_address[1]
    yield eng, port
    server.shutdown()


def _call(port, method, path, body=None, token=None, raw=False,
          raw_body=None):
    data = (raw_body if raw_body is not None
            else _json.dumps(body).encode() if body is not None
            else None)
    req = rq.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method=method,
        headers={"Content-Type": "application/json",
                 **({"Authorization": f"Bearer {token}"}
                    if token else {})})
    try:
        with rq.urlopen(req) as r:
            payload = r.read()
            return r.status, (payload if raw else _json.loads(payload))
    except rq.HTTPError as e:
        payload = e.read()
        try:
            return e.code, _json.loads(payload)
        except ValueError:
            return e.code, payload


def test_explore_rest_flow(rest):
    eng, port = rest
    # new untitled over orders
    code, out = _call(port, "POST",
                      "/api/v3/datasets/new_untitled"
                      "?parentDataset=orders&newVersion=v0&limit=5")
    assert code == 200, out
    assert out["data"]["returnedRowCount"] == 5
    assert out["dataset"]["datasetVersion"] == "v0"
    path = ".".join(out["dataset"]["fullPath"])
    # transform: filter
    code, out = _call(
        port, "POST",
        f"/api/v3/dataset/{path}/version/v0/transformAndPreview"
        "?newVersion=v1&limit=5",
        body={"type": "filter", "sourceColumnName": "o_orderstatus",
              "filter": {"type": "Value",
                         "value": {"values": ["F"],
                                   "dataType": "TEXT"}}})
    assert code == 200, out
    assert "WHERE" in out["dataset"]["sql"]
    # transform: group by
    code, out = _call(
        port, "POST",
        f"/api/v3/dataset/{path}/version/v1/transformAndPreview"
        "?newVersion=v2",
        body={"type": "groupBy",
              "columnsDimensions": [{"column": "o_orderpriority"}],
              "columnsMeasures": [{"type": "Count_Star"}]})
    assert code == 200, out
    cols = [c["name"] for c in out["data"]["columns"]]
    assert cols == ["o_orderpriority", "Count_Star"]
    # history lists the chain
    code, hist = _call(port, "GET",
                       f"/api/v3/dataset/{path}/version/v2/history")
    assert code == 200
    assert [i["datasetVersion"] for i in hist["items"]] == \
        ["v0", "v1", "v2"]
    # recommendation cards over a text column
    code, cards = _call(
        port, "POST",
        f"/api/v3/dataset/{path}/version/v0/extract",
        body={"colName": "o_orderpriority", "cellText": "1-URGENT",
              "offset": 2, "length": 6})
    assert code == 200 and cards["cards"], cards
    assert cards["cards"][0]["matchedCount"] > 0
    # save as VDS, then query it through the SQL API
    code, saved = _call(
        port, "POST",
        f"/api/v3/dataset/{path}/version/v2/save?as=analytics.prio")
    assert code == 200, saved
    assert saved["dataset"]["savedTag"]
    code, out = _call(port, "POST", "/api/v3/sql",
                      body={"sql": "select * from analytics.prio"})
    assert code == 200 and out["rowCount"] == 5
    # stale save → 409
    code, out = _call(
        port, "POST",
        f"/api/v3/dataset/{path}/version/v2/save?as=analytics.prio")
    assert code == 409
    # missing newVersion → 400; unknown version → 404
    code, _ = _call(port, "POST",
                    f"/api/v3/dataset/{path}/version/v0/"
                    "transformAndPreview",
                    body={"type": "drop",
                          "droppedColumnName": "o_comment"})
    assert code == 400
    code, _ = _call(port, "GET",
                    f"/api/v3/dataset/{path}/version/nope/preview")
    assert code == 404


def test_home_upload_flow(rest):
    eng, port = rest
    csv = b"city,pop\nparis,2100000\nlyon,520000\n"
    code, out = _call(port, "POST",
                      "/api/v3/home/@home/upload_start/cities"
                      "?extension=csv", raw_body=csv)
    assert code == 200 and out["isStaged"], out
    assert out["fileFormat"]["type"] == "Text"
    # preview under the sniffed default settings
    code, prev = _call(port, "POST",
                       "/api/v3/home/@home/file_preview_unsaved/"
                       "cities")
    assert code == 200, prev
    assert [c["name"] for c in prev["columns"]] == ["city", "pop"]
    assert prev["returnedRowCount"] == 2
    # promote
    code, fin = _call(port, "POST",
                      "/api/v3/home/@home/upload_finish/cities",
                      body={"fileFormat": {"type": "Text",
                                           "fieldDelimiter": ",",
                                           "extractHeader": True}})
    assert code == 200 and fin["sqlPath"] == "home.cities", fin
    # the promoted dataset answers SQL
    code, out = _call(port, "POST", "/api/v3/sql",
                      body={"sql": "select pop from home.cities "
                                   "where city = 'paris'"})
    assert code == 200 and out["rows"][0]["pop"] == 2100000
    # it shows up in home listing and the resource tree
    code, home = _call(port, "GET", "/api/v3/home/@home")
    assert code == 200
    assert [c["name"] for c in home["children"]] == ["cities"]
    code, tree = _call(port, "GET", "/api/v3/resourcetree/home")
    assert code == 200
    assert {"name": "cities", "type": "PHYSICAL_DATASET",
            "fullPath": ["home", "cities"]} in tree["resources"]
    # format settings round-trip; flipping extractHeader
    # re-materializes with positional column names
    code, fmt = _call(port, "GET",
                      "/api/v3/home/@home/file_format/cities")
    assert code == 200 and fmt["fileFormat"]["extractHeader"]
    code, _ = _call(port, "PUT",
                    "/api/v3/home/@home/file_format/cities",
                    body={"fileFormat": {"type": "Text",
                                         "fieldDelimiter": ",",
                                         "extractHeader": False}})
    assert code == 200
    code, out = _call(port, "POST", "/api/v3/sql",
                      body={"sql": "select count(*) as n "
                                   "from home.cities"})
    assert code == 200 and out["rows"][0]["n"] == 3  # header is data
    # delete removes the dataset
    code, _ = _call(port, "DELETE", "/api/v3/home/@home/file/cities")
    assert code == 200
    code, home = _call(port, "GET", "/api/v3/home/@home")
    assert home["children"] == []


def test_home_upload_xlsx(rest, tmp_path):
    eng, port = rest
    # hand-rolled OOXML workbook (inline strings, no external libs):
    # sku | qty rows (a1,3), (b2,9)
    import zipfile

    p = tmp_path / "inv.xlsx"
    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1"><c r="A1" t="inlineStr"><is><t>sku</t></is></c><c r="B1" t="inlineStr"><is><t>qty</t></is></c></row>
  <row r="2"><c r="A2" t="inlineStr"><is><t>a1</t></is></c><c r="B2"><v>3</v></c></row>
  <row r="3"><c r="A3" t="inlineStr"><is><t>b2</t></is></c><c r="B3"><v>9</v></c></row>
 </sheetData>
</worksheet>"""
    workbook = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheets><sheet name="Sheet1" sheetId="1"/></sheets>
</workbook>"""
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/worksheets/sheet1.xml", sheet)
    code, out = _call(port, "POST",
                      "/api/v3/home/@home/upload_start/inv"
                      "?extension=xlsx", raw_body=p.read_bytes())
    assert code == 200, out
    assert out["fileFormat"]["type"] == "Excel"
    code, prev = _call(port, "POST",
                       "/api/v3/home/@home/file_preview_unsaved/inv")
    assert code == 200, prev
    assert [c["name"] for c in prev["columns"]] == ["sku", "qty"]
    code, fin = _call(port, "POST",
                      "/api/v3/home/@home/upload_finish/inv")
    assert code == 200, fin
    code, out = _call(port, "POST", "/api/v3/sql",
                      body={"sql": "select sum(qty) as s "
                                   "from home.inv"})
    assert code == 200 and out["rows"][0]["s"] == 12
    _call(port, "DELETE", "/api/v3/home/@home/file/inv")


def test_resource_tree(rest):
    eng, port = rest
    eng.create_space("marketing")
    eng.create_folder("marketing", "q1")
    eng.create_vds("marketing", "q1.top_regions",
                   "select r_regionkey from region")
    # root: spaces + sources
    code, tree = _call(port, "GET", "/api/v3/resourcetree")
    assert code == 200
    names = {(r["name"], r["type"]) for r in tree["resources"]}
    assert ("marketing", "SPACE") in names
    # space children: folder level only
    code, tree = _call(port, "GET", "/api/v3/resourcetree/marketing")
    assert code == 200
    assert {"name": "q1", "type": "FOLDER",
            "fullPath": ["marketing", "q1"]} in tree["resources"]
    # folder children: the VDS
    code, tree = _call(port, "GET",
                       "/api/v3/resourcetree/marketing.q1")
    assert code == 200
    assert tree["resources"] == [
        {"name": "top_regions", "type": "VIRTUAL_DATASET",
         "fullPath": ["marketing", "q1", "top_regions"]}]
    # expand walks root → folder → dataset in one response
    code, tree = _call(port, "GET",
                       "/api/v3/resourcetree/marketing.q1/expand")
    assert code == 200
    types = {r["type"] for r in tree["resources"]}
    assert {"SPACE", "FOLDER", "VIRTUAL_DATASET"} <= types
    # unknown container → 404
    code, _ = _call(port, "GET", "/api/v3/resourcetree/nope")
    assert code == 404


def test_jobs_filters_and_download(rest):
    eng, port = rest
    code, out = _call(port, "POST", "/api/v3/sql",
                      body={"sql": "select r_regionkey, r_name "
                                   "from region order by r_regionkey"})
    assert code == 200
    jid = out["id"]
    # download as CSV attachment
    code, body = _call(port, "GET",
                       f"/api/v3/job/{jid}/download?format=csv",
                       raw=True)
    assert code == 200
    lines = body.decode().splitlines()
    assert lines[0] == "r_regionkey,r_name"
    assert len(lines) == 6 and lines[1].startswith("0,")
    # download as JSON lines
    code, body = _call(port, "GET",
                       f"/api/v3/job/{jid}/download?format=json",
                       raw=True)
    assert code == 200
    first = _json.loads(body.decode().splitlines()[0])
    assert first == {"r_regionkey": 0, "r_name": "AFRICA"}
    # filter payloads
    code, out = _call(port, "GET", "/api/v3/jobs/filters/spaces")
    assert code == 200
    assert any(i["id"] == "marketing" for i in out["items"])
    code, out = _call(port, "GET",
                      "/api/v3/jobs/filters/users?filter=ali")
    assert code == 200
    assert any(i["id"] == "alice" for i in out["items"])
    code, _ = _call(port, "GET", "/api/v3/jobs/filters/nope")
    assert code == 404


def test_jobs_filter_offers_queue_seen_only_on_jobs(rest):
    """/jobs/filters/queues offers a queue that appears only on a job
    record (listing key `wlmQueue`), beside the workload manager's."""
    eng, port = rest
    code, out = _call(port, "POST", "/api/v3/sql",
                      body={"sql": "select 1 as one"})
    assert code == 200
    eng.job_telemetry.set_queue(out["id"], "adhoc-only-on-job")
    code, out = _call(port, "GET",
                      "/api/v3/jobs/filters/queues?filter=only-on")
    assert code == 200
    assert [i["id"] for i in out["items"]] == ["adhoc-only-on-job"]


def test_login_logout_and_temp_tokens(spark):
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.create_user("bob", password="pw")
    eng.create_user("nopw")  # no stored credential -> can never log in
    server, _t = serve_rest_background(eng, token="static-secret")
    port = server.server_address[1]
    try:
        # no auth → 401
        code, _ = _call(port, "GET", "/api/v3/catalog")
        assert code == 401
        # login must not require auth; bad user / empty password → 401
        code, _ = _call(port, "POST", "/api/v3/login",
                        body={"userName": "mallory",
                              "password": "pw"})
        assert code == 401
        code, _ = _call(port, "POST", "/api/v3/login",
                        body={"userName": "bob", "password": ""})
        assert code == 401
        # wrong password and credential-less users are refused: a
        # known username must NEVER bypass the bearer gate
        code, _ = _call(port, "POST", "/api/v3/login",
                        body={"userName": "bob", "password": "WRONG"})
        assert code == 401
        code, _ = _call(port, "POST", "/api/v3/login",
                        body={"userName": "nopw", "password": "x"})
        assert code == 401
        # the profile store never leaks the credential hash
        assert "_pw_hash" not in eng.get_user("bob")
        code, out = _call(port, "POST", "/api/v3/login",
                          body={"userName": "bob", "password": "pw"})
        assert code == 200 and out["token"], out
        session = out["token"]
        # the session token authenticates REST
        code, _ = _call(port, "GET", "/api/v3/catalog",
                        token=session)
        assert code == 200
        code, out = _call(port, "GET", "/api/v3/login", token=session)
        assert code == 200 and out["authorized"]
        # temp token: scoped to ONE path
        code, out = _call(port, "POST",
                          "/api/v3/temp-token"
                          "?request=/api/v3/sql/functions"
                          "&durationSeconds=60", token=session)
        assert code == 200
        temp = out["token"]
        code, _ = _call(port, "GET", "/api/v3/sql/functions",
                        token=temp)
        assert code == 200
        code, _ = _call(port, "GET", "/api/v3/reflection", token=temp)
        assert code == 401  # off-scope path refused
        # temp token in the query string (download-link style)
        code, _ = _call(port, "GET",
                        f"/api/v3/sql/functions?token={temp}")
        assert code == 200
        # logout invalidates the session
        code, _ = _call(port, "DELETE", "/api/v3/login",
                        token=session)
        assert code == 200
        code, _ = _call(port, "GET", "/api/v3/catalog", token=session)
        assert code == 401
        # the static token still works (ops bypass)
        code, _ = _call(port, "GET", "/api/v3/catalog",
                        token="static-secret")
        assert code == 200
        # expired temp token refused
        tm = server.RequestHandlerClass.tokens
        tok = tm.mint_temp("/api/v3/sql/functions", 1)
        tm._temp[tok]["expires"] = time.time() - 1
        code, _ = _call(port, "GET", "/api/v3/sql/functions",
                        token=tok)
        assert code == 401
    finally:
        server.shutdown()


def test_session_token_authenticates_flight(spark):
    import pyarrow.flight as fl

    from dremio_oss_spark.server.dac_rest import TokenManager
    from dremio_oss_spark.server.flight import (
        flight_query,
        serve_background,
    )

    eng = Engine(spark)
    tm = TokenManager()
    server, _t = serve_background(eng, token="flight-secret",
                                  tokens=tm)
    try:
        session = tm.login("carol")["token"]
        table = flight_query(server.port, "select 1 as one",
                             token=session)
        assert table.column("one").to_pylist() == [1]
        with pytest.raises(fl.FlightUnauthenticatedError):
            flight_query(server.port, "select 1", token="forged")
        # the static token keeps working alongside sessions
        assert flight_query(server.port, "select 2 as two",
                            token="flight-secret") \
            .column("two").to_pylist() == [2]
    finally:
        server.shutdown()


def test_admin_backup_restore_kvstore_system(rest, tmp_path):
    """Backup/restore + kvstore report + system nodes
    (BackupResource.java:64, KVStoreReportResource.java:61,
    SystemResource.java:111)."""
    eng, port = rest
    eng.create_space("bkspace")
    eng.create_vds("bkspace", "five",
                   "select r_regionkey from region")
    eng.create_user("backup_user")
    bdir = str(tmp_path / "bk")
    code, out = _call(port, "POST", "/api/v3/backup",
                      body={"backupDir": bdir})
    assert code == 200 and out["backupPath"].endswith(".json"), out
    with open(out["backupPath"]) as f:
        snap = _json.load(f)
    assert "bkspace" in snap["spaces"]
    assert snap["spaces"]["bkspace"]["vds"]["five"].startswith(
        "select")
    assert "backup_user" in snap["users"]
    # wipe, then restore into the same engine
    eng.drop_vds("bkspace", "five")
    eng.spaces.pop("bkspace")
    eng._drop_principal("backup_user")
    code, out = _call(port, "POST", "/api/v3/backup/restore",
                      body={"backupDir": bdir})
    assert code == 200 and out["restored"]["vds"] >= 1, out
    assert eng.get_user("backup_user") is not None
    rows = eng.sql("select count(*) as n from bkspace.five").collect()
    assert rows[0]["n"] == 5
    # kvstore report lists per-store record counts
    code, rep = _call(port, "GET", "/api/v3/kvstore/report")
    assert code == 200
    stores = {s["name"]: s["records"] for s in rep["stores"]}
    assert stores["spaces"] >= 1 and stores["users"] >= 1
    code, rep = _call(port, "GET",
                      "/api/v3/kvstore/report?store=users")
    assert [s["name"] for s in rep["stores"]] == ["users"]
    # system info
    code, nodes = _call(port, "GET", "/api/v3/system/nodes")
    assert code == 200 and isinstance(nodes, list)
    code, info = _call(port, "GET",
                       "/api/v3/system/cluster-resource-info")
    assert code == 200 and "executorCount" in info


def test_admin_export_profiles(rest, tmp_path):
    eng, port = rest
    # run one profiled statement so telemetry has something to export
    df, jid = eng.profiled_sql("select count(*) as n from nation")
    df.collect()
    eng.finish_job(jid, df)
    out_dir = str(tmp_path / "profiles")
    code, out = _call(port, "POST", "/api/v3/export-profiles",
                      body={"outputFilePath": out_dir})
    assert code == 200, out
    assert out["profilesExported"] >= 1
    import os

    files = os.listdir(out_dir)
    assert files and all(f.startswith("profile_") for f in files)
    prof = _json.loads(
        open(os.path.join(out_dir, files[0])).read())
    assert prof  # plan/metrics document


def test_resource_tree_versioned_source(rest, tmp_path):
    """SOURCE node expansion for a versioned (dataplane) source lists
    its main-branch tables (ResourceTreeResource source children)."""
    eng, port = rest
    eng.create_versioned_source("dpsrc_tree", str(tmp_path / "dp"))
    eng.sql("CREATE TABLE dpsrc_tree.regx AS "
            "select r_regionkey from region")
    code, tree = _call(port, "GET", "/api/v3/resourcetree")
    assert code == 200
    assert any(r["name"] == "dpsrc_tree"
               and r.get("sourceType") == "NESSIE"
               for r in tree["resources"])
    code, tree = _call(port, "GET", "/api/v3/resourcetree/dpsrc_tree")
    assert code == 200
    assert tree["resources"] == [
        {"name": "regx", "type": "PHYSICAL_DATASET",
         "fullPath": ["dpsrc_tree", "regx"]}]


def test_explore_clean_joinrecs_reapply_rest(rest):
    """clean data card, join recommendations and editOriginalSql over
    REST (DatasetVersionResource.java:1240, :1302, :999)."""
    eng, port = rest
    code, out = _call(port, "POST",
                      "/api/v3/datasets/new_untitled"
                      "?parentDataset=nation&newVersion=n0&limit=5")
    assert code == 200, out
    path = ".".join(out["dataset"]["fullPath"])
    code, card = _call(port, "POST",
                       f"/api/v3/dataset/{path}/version/n0/clean",
                       body={"colName": "n_name"})
    assert code == 200, card
    split = {s["type"]: s["matchingPercent"] for s in card["split"]}
    assert split["TEXT"] == 100.0
    code, recs = _call(port, "GET",
                       f"/api/v3/dataset/{path}/version/n0/join_recs")
    assert code == 200 and isinstance(recs["recommendations"], list)
    # chain one transform then reapply from the root
    code, _ = _call(
        port, "POST",
        f"/api/v3/dataset/{path}/version/n0/transformAndPreview"
        "?newVersion=n1&limit=5",
        body={"type": "drop", "droppedColumnName": "n_name"})
    assert code == 200
    code, out = _call(
        port, "POST",
        f"/api/v3/dataset/{path}/version/n1/editOriginalSql"
        "?newVersion=n2&limit=5")
    assert code == 200, out
    assert out["dataset"]["sql"] == _call(
        port, "GET",
        f"/api/v3/dataset/{path}/version/n1")[1]["sql"]


def test_sql_runner_session_tabs(rest):
    """Per-user SQL-runner tab session (SQLRunnerResource.java:58-105 /
    SQLRunnerSessionServiceImpl.java:50-123): auto-created empty
    session, PUT replace, newTab idempotent append+focus, deleteTab
    refusing the last tab, and GET dropping tabs whose script was
    deleted."""
    eng, port = rest
    # two scripts to tab between
    code, s1 = _call(port, "POST", "/api/v3/scripts",
                     body={"name": "a", "content": "select 1"})
    assert code == 200, s1
    code, s2 = _call(port, "POST", "/api/v3/scripts",
                     body={"name": "b", "content": "select 2"})
    assert code == 200, s2
    i1, i2 = s1["id"], s2["id"]
    code, sess = _call(port, "GET", "/api/v3/sql-runner/session")
    assert code == 200
    assert sess["scriptIds"] == [] and sess["currentScriptId"] == ""
    # newTab: append + focus; idempotent on repeat
    code, sess = _call(port, "PUT",
                       f"/api/v3/sql-runner/session/tabs/{i1}")
    assert code == 200 and sess["currentScriptId"] == i1
    code, sess = _call(port, "PUT",
                       f"/api/v3/sql-runner/session/tabs/{i2}")
    assert sess["scriptIds"] == [i1, i2]
    code, sess = _call(port, "PUT",
                       f"/api/v3/sql-runner/session/tabs/{i1}")
    assert sess["scriptIds"] == [i1, i2]  # no duplicate
    assert sess["currentScriptId"] == i1  # refocused
    # PUT session replaces wholesale
    code, sess = _call(port, "PUT", "/api/v3/sql-runner/session",
                       body={"scriptIds": [i2, i1],
                             "currentScriptId": i2})
    assert code == 200 and sess["scriptIds"] == [i2, i1]
    # deleteTab: current moves to the first remaining tab
    code, _ = _call(port, "DELETE",
                    f"/api/v3/sql-runner/session/tabs/{i2}", raw=True)
    assert code == 204
    code, sess = _call(port, "GET", "/api/v3/sql-runner/session")
    assert sess["scriptIds"] == [i1]
    assert sess["currentScriptId"] == i1
    # last tab is protected (LastTabException -> 403)
    code, out = _call(port, "DELETE",
                      f"/api/v3/sql-runner/session/tabs/{i1}")
    assert code == 403, out
    # deleting the script itself prunes the tab on next GET
    code, _ = _call(port, "DELETE", f"/api/v3/scripts/{i1}")
    assert code == 200
    code, sess = _call(port, "GET", "/api/v3/sql-runner/session")
    assert sess["scriptIds"] == [] and sess["currentScriptId"] == ""
    # sessions are per-principal: a login-token user sees their own
    _call(port, "POST", "/api/v3/login", body={})  # warm route
    eng.create_user("tabuser", password="pw")
    code, tok = _call(port, "POST", "/api/v3/login",
                      body={"userName": "tabuser", "password": "pw"})
    assert code == 200
    code, sess2 = _call(port, "PUT",
                        f"/api/v3/sql-runner/session/tabs/{i2}",
                        token=tok["token"])
    assert code == 200 and sess2["userId"] == "tabuser"
    code, sess = _call(port, "GET", "/api/v3/sql-runner/session")
    assert sess["userId"] == "admin" and i2 not in sess["scriptIds"]


def test_server_status_devoptions_bootstrap(spark):
    """ServerStatusResource.java:43, DevelopmentOptionsResource.java:
    58-88 and BootstrapResource.java:65: status ping, the global
    acceleration kill switch actually gating substitution, clearall
    forcing a rebuild, and pre-auth firstuser that refuses once any
    user exists."""
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    server, _t = serve_rest_background(eng, token="sec")
    port = server.server_address[1]
    try:
        # on a token-gated server, bootstrap is NOT pre-auth: letting
        # an anonymous client mint the first admin would bypass the
        # static token entirely (zero users exist at install time)
        code, _ = _call(port, "PUT", "/api/v3/bootstrap/firstuser",
                        body={"userName": "mallory",
                              "password": "pw"})
        assert code == 401
        assert eng.list_users() == []
        code, u = _call(port, "PUT", "/api/v3/bootstrap/firstuser",
                        body={"userName": "root", "password": "pw",
                              "firstName": "Root"}, token="sec")
        assert code == 200 and u["name"] == "root", u
        # the first user is the deployment admin
        assert "ADMIN" in u["roles"], u
        # and refuses forever after
        code, out = _call(port, "PUT", "/api/v3/bootstrap/firstuser",
                          body={"userName": "other", "password": "x"},
                          token="sec")
        assert code == 403, out
        # the bootstrapped credential logs in
        code, tok = _call(port, "POST", "/api/v3/login",
                          body={"userName": "root", "password": "pw"})
        assert code == 200, tok
        code, st = _call(port, "GET", "/api/v3/server_status",
                         token="sec")
        assert code == 200 and st["status"] == "OK"
        # acceleration: build a reflection, prove the kill switch gates
        eng.sql("ALTER TABLE nation CREATE AGGREGATE REFLECTION "
                "devopt_refl USING DIMENSIONS (n_regionkey) "
                "MEASURES (n_nationkey (SUM))")
        q = ("select n_regionkey, sum(n_nationkey) as s "
             "from nation group by n_regionkey")
        eng.sql(q).collect()
        assert eng.last_plan_accelerated
        code, out = _call(
            port, "PUT",
            "/api/v3/development_options/acceleration/enabled",
            body={"enabled": False}, token="sec")
        assert code == 200 and out["enabled"] is False
        eng.sql(q + " -- off").collect()
        assert not eng.last_plan_accelerated
        code, out = _call(
            port, "GET",
            "/api/v3/development_options/acceleration/enabled",
            token="sec")
        assert out["enabled"] is False
        code, out = _call(
            port, "PUT",
            "/api/v3/development_options/acceleration/enabled",
            body={"enabled": True}, token="sec")
        eng.sql(q + " -- on").collect()
        assert eng.last_plan_accelerated
        code, out = _call(
            port, "GET",
            "/api/v3/development_options/acceleration/cacheinitialized",
            token="sec")
        assert code == 200 and out["initialized"] is True
        # clearall marks every reflection stale and rebuilds it
        code, out = _call(
            port, "POST",
            "/api/v3/development_options/acceleration/clearall",
            token="sec")
        assert code == 200 and out["cleared"] >= 1
        eng.sql(q + " -- rebuilt").collect()
        assert eng.last_plan_accelerated
    finally:
        server.shutdown()


def test_review_findings_r12_rest_regressions(spark):
    """Pins for this round's self-review findings on the REST layer:
    bare-boolean PUT body accepted, string/missing bodies coerced
    strictly (400 on garbage, no silent disable), bootstrap requires a
    password (else the deployment bricks), clearall covers RAW
    reflections and rebuilds even with auto-refresh off."""
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    server, _t = serve_rest_background(eng, token="sec")
    port = server.server_address[1]
    try:
        # bootstrap without a password refuses and creates nothing
        code, out = _call(port, "PUT", "/api/v3/bootstrap/firstuser",
                          body={"userName": "root"}, token="sec")
        assert code == 400, out
        assert eng.list_users() == []
        # the bare-boolean body the reference resource accepts
        code, out = _call(
            port, "PUT",
            "/api/v3/development_options/acceleration/enabled",
            raw_body=b"false", token="sec")
        assert code == 200 and out["enabled"] is False
        assert eng.acceleration_enabled is False
        # JSON-string value coerces by CONTENT, not truthiness
        code, out = _call(
            port, "PUT",
            "/api/v3/development_options/acceleration/enabled",
            body={"enabled": "true"}, token="sec")
        assert code == 200 and out["enabled"] is True
        # garbage and missing keys refuse instead of silently toggling
        for bad in (b"maybe", b"{}", b"1"):
            code, out = _call(
                port, "PUT",
                "/api/v3/development_options/acceleration/enabled",
                raw_body=bad, token="sec")
            assert code == 400, (bad, out)
        assert eng.acceleration_enabled is True  # unchanged by the 400s
        # clearall: agg AND raw reflections counted + rebuilt, even
        # with background auto-refresh disabled
        eng.sql("ALTER TABLE nation CREATE AGGREGATE REFLECTION r12agg "
                "USING DIMENSIONS (n_regionkey) "
                "MEASURES (n_nationkey (SUM))")
        eng.sql("ALTER TABLE nation CREATE RAW REFLECTION r12raw "
                "USING DISPLAY (n_nationkey, n_name)")
        spark.conf.set("spark.dremio.reflections.autoRefresh", "false")
        try:
            code, out = _call(
                port, "POST",
                "/api/v3/development_options/acceleration/clearall",
                token="sec")
            assert code == 200 and out["cleared"] == 2, out
            store = eng._refl_store
            refls = (list(store._reflections.values())
                     + list(store._raw.values()))
            assert all(not r.stale and not getattr(r, "invalid", False)
                       for r in refls)
        finally:
            spark.conf.unset("spark.dremio.reflections.autoRefresh")
    finally:
        server.shutdown()


def test_job_dataset_graph(rest):
    """Jobs-page dataset lineage (JobsListingResource.java:166 /
    JobDatasetGraphUI): a job over a VDS-on-VDS chain expands parents
    recursively down to the physical tables, with reflections anchored
    per dataset; subquery aliases never appear as datasets."""
    eng, port = rest
    eng.create_space("lin")
    eng.create_vds("lin", "base_v",
                   "select n_nationkey, n_regionkey from nation")
    eng.create_vds("lin", "top_v",
                   "select n_regionkey, count(*) as n from lin.base_v "
                   "group by n_regionkey")
    eng.sql("ALTER TABLE nation CREATE RAW REFLECTION lin_raw "
            "USING DISPLAY (n_nationkey, n_regionkey)")
    code, out = _call(port, "POST", "/api/v3/sql",
                      body={"sql": "select * from lin.top_v t "
                                   "join region r "
                                   "on t.n_regionkey = r.r_regionkey"})
    assert code == 200, out
    jid = out["id"]
    code, g = _call(port, "GET",
                    f"/api/v3/jobs-listing/{jid}/datasetGraph")
    assert code == 200, g
    nodes = {n["id"]: n for n in g["datasetGraph"]}
    assert nodes["lin.top_v"]["datasetType"] == "VIRTUAL_DATASET"
    assert nodes["lin.top_v"]["parents"] == ["lin.base_v"]
    assert nodes["lin.base_v"]["parents"] == ["nation"]
    assert nodes["nation"]["datasetType"] == "PHYSICAL_DATASET"
    assert nodes["region"]["datasetType"] == "PHYSICAL_DATASET"
    assert "lin_raw" in nodes["nation"]["reflections"]
    # the join alias 't'/'r' and missing names never become nodes
    assert set(nodes) == {"lin.top_v", "lin.base_v", "nation",
                          "region"}
    code, _ = _call(port, "GET",
                    "/api/v3/jobs-listing/nope/datasetGraph")
    assert code == 404


def test_info_and_user_preferences(rest):
    """GET /info version payload (InformationResource.java:35) and the
    per-user STARRED preference store (UserPreferenceResource.java:
    58-150): star/unstar catalog entities with duplicate-star 400,
    unknown-entity 404, unknown-type 400."""
    eng, port = rest
    code, info = _call(port, "GET", "/api/v3/info")
    assert code == 200 and info["version"]
    assert info["clusterType"].startswith("SPARK/")
    eng.create_space("favs")
    eng.create_vds("favs", "starme", "select 1 as one")
    code, out = _call(port, "GET",
                      "/api/v3/users/preferences/starred")
    assert code == 200 and out["entities"] == []
    code, out = _call(port, "PUT",
                      "/api/v3/users/preferences/starred/"
                      "dataset%2Ffavs.starme")
    assert code == 200, out
    assert out["entities"] == [{"entityId": "dataset/favs.starme"}]
    # duplicate star -> 400; unknown entity -> 404; bad type -> 400
    code, _ = _call(port, "PUT",
                    "/api/v3/users/preferences/starred/"
                    "dataset%2Ffavs.starme")
    assert code == 400
    code, _ = _call(port, "PUT",
                    "/api/v3/users/preferences/starred/"
                    "dataset%2Fnope.nope")
    assert code == 404
    code, _ = _call(port, "GET",
                    "/api/v3/users/preferences/followed")
    assert code == 400
    code, out = _call(port, "DELETE",
                      "/api/v3/users/preferences/starred/"
                      "dataset%2Ffavs.starme")
    assert code == 200 and out["entities"] == []
    code, _ = _call(port, "DELETE",
                    "/api/v3/users/preferences/starred/"
                    "dataset%2Ffavs.starme")
    assert code == 404


def test_catalog_include_dataset_count(rest):
    """GET /catalog?include=datasetCount attaches CatalogItemStats to
    containers (CatalogResource.java:75); without the include param no
    stats field appears."""
    eng, port = rest
    eng.create_space("counted")
    eng.create_vds("counted", "a", "select 1 as x")
    eng.create_vds("counted", "b", "select 2 as x")
    code, out = _call(port, "GET",
                      "/api/v3/catalog?include=datasetCount")
    assert code == 200
    sp = next(r for r in out["data"]
              if r.get("entityType") == "space"
              and r["name"] == "counted")
    assert sp["stats"] == {"datasetCount": 2,
                           "datasetCountBounded": False}
    code, out = _call(port, "GET", "/api/v3/catalog")
    sp = next(r for r in out["data"]
              if r.get("entityType") == "space"
              and r["name"] == "counted")
    assert "stats" not in sp


def test_job_download_parquet(rest):
    """format=parquet streams a readable parquet file of the stored
    result set (DownloadFormat.PARQUET,
    DatasetDownloadManager.java:76)."""
    import io

    import pyarrow.parquet as pq

    eng, port = rest
    code, out = _call(port, "POST", "/api/v3/sql",
                      body={"sql": "select r_regionkey, r_name "
                                   "from region order by r_regionkey"})
    assert code == 200, out
    jid = out["id"]
    code, raw = _call(port, "GET",
                      f"/api/v3/job/{jid}/download?format=parquet",
                      raw=True)
    assert code == 200
    t = pq.read_table(io.BytesIO(raw))
    assert t.num_rows == 5
    assert t.column("r_regionkey").to_pylist() == [0, 1, 2, 3, 4]


def test_prefs_survive_backup_restore(rest, tmp_path):
    """Review pin: STARRED preferences ride the backup payload and
    restore into a fresh server, like sibling handler state
    (scripts/collab); the kvstore report counts them."""
    import json as _j

    from dremio_oss_spark.server.rest import serve_rest_background

    eng, port = rest
    eng.create_space("bk")
    eng.create_vds("bk", "v", "select 1 as x")
    code, _ = _call(port, "PUT",
                    "/api/v3/users/preferences/starred/"
                    "dataset%2Fbk.v")
    assert code == 200
    bdir = str(tmp_path / "bk")
    code, out = _call(port, "POST", "/api/v3/backup",
                      body={"backupDir": bdir})
    assert code == 200, out
    payload = _j.load(open(f"{bdir}/catalog_backup.json"))
    assert payload["prefs"] == {"admin": ["dataset/bk.v"]}
    code, rep = _call(port, "GET",
                      "/api/v3/kvstore/report?store=prefs")
    assert rep["stores"] == [{"name": "prefs", "records": 1}]
    # restore into a fresh server: the star comes back
    eng2 = Engine(eng.spark)
    server2, _t = serve_rest_background(eng2, backup_root=None)
    port2 = server2.server_address[1]
    try:
        code, out = _call(port2, "POST", "/api/v3/backup/restore",
                          body={"backupDir": bdir})
        assert code == 200, out
        code, out = _call(port2, "GET",
                          "/api/v3/users/preferences/starred")
        assert out["entities"] == [{"entityId": "dataset/bk.v"}]
    finally:
        server2.shutdown()


def test_dataset_ops_rename_move_copy_descendants(rest):
    """Dataset-level ops (explore DatasetResource.java:138-507):
    rename within a space, move across spaces (collision-refused),
    copyFrom, transitive descendants via the stored-SQL reference
    scanner, and acceleration settings round-trip."""
    eng, port = rest
    eng.create_space("ops1")
    eng.create_space("ops2")
    eng.create_vds("ops1", "base", "select n_nationkey k, n_regionkey "
                                   "from nation")
    eng.create_vds("ops1", "mid", "select k from ops1.base")
    eng.create_vds("ops2", "top", "select count(*) c from ops1.mid")
    # descendants of base: mid directly, top transitively
    code, out = _call(port, "GET",
                      "/api/v3/dataset/ops1.base/descendants")
    assert code == 200
    assert out == [["ops1", "mid"], ["ops2", "top"]]
    # rename: ops1.mid -> ops1.mid2 (queryable under the new name)
    code, out = _call(port, "POST",
                      "/api/v3/dataset/ops1.mid/rename?renameTo=mid2")
    assert code == 200 and out["fullPath"] == ["ops1", "mid2"]
    assert eng.sql("select * from ops1.mid2").count() == 25
    # move across spaces; clobber refused
    code, out = _call(port, "POST",
                      "/api/v3/dataset/ops1.mid2/moveTo/ops2.mid3")
    assert code == 200 and out["fullPath"] == ["ops2", "mid3"]
    eng.create_vds("ops1", "blocker", "select 1 x")
    code, out = _call(port, "POST",
                      "/api/v3/dataset/ops2.mid3/moveTo/ops1.blocker")
    assert code == 400, out
    # copyFrom: new VDS with the source SQL
    code, out = _call(port, "PUT",
                      "/api/v3/dataset/ops1.copy1/copyFrom/ops2.mid3")
    assert code == 200 and out["fullPath"] == ["ops1", "copy1"]
    assert eng.sql("select * from ops1.copy1").count() == 25
    # acceleration settings round-trip
    code, st = _call(port, "GET",
                     "/api/v3/dataset/ops1.base/acceleration/settings")
    assert code == 200 and st["accelerationRefreshPeriod"] == 3600_000
    code, _ = _call(port, "PUT",
                    "/api/v3/dataset/ops1.base/acceleration/settings",
                    body={"accelerationRefreshPeriod": 60_000,
                          "accelerationGracePeriod": 120_000})
    assert code == 200
    code, st = _call(port, "GET",
                     "/api/v3/dataset/ops1.base/acceleration/settings")
    assert st["accelerationRefreshPeriod"] == 60_000
    assert st["accelerationGracePeriod"] == 120_000


def test_review_findings_r12_dataset_ops_regressions(rest):
    """Pins for the fifth self-review pass: case-variant rename keeps
    the dataset queryable, rename preserves the folder parent,
    acceleration settings migrate with a move and honor zero periods,
    unknown targets/datasets 404/400 instead of auto-creating, and
    policy keys are case-insensitive between DDL and REST."""
    eng, port = rest
    eng.create_space("rg")
    eng.create_vds("rg", "v1", "select n_nationkey k from nation")
    # case-variant rename: the view must survive (create-then-drop
    # would delete the case-insensitively-identical temp view)
    code, out = _call(port, "POST",
                      "/api/v3/dataset/rg.v1/rename?renameTo=V1")
    assert code == 200 and out["fullPath"] == ["rg", "V1"]
    assert eng.sql("select * from rg.V1").count() == 25
    assert "V1" in eng.spaces["rg"].vds
    # foldered rename keeps the parent
    eng.create_folder("rg", "fold")
    eng.create_vds("rg", "fold.inner", "select 1 x")
    code, out = _call(
        port, "POST",
        "/api/v3/dataset/rg.fold.inner/rename?renameTo=inner2")
    assert code == 200 and out["fullPath"] == ["rg", "fold", "inner2"]
    assert "fold.inner2" in eng.spaces["rg"].vds
    # settings migrate with a move; zero periods round-trip as zero
    code, _ = _call(port, "PUT",
                    "/api/v3/dataset/rg.V1/acceleration/settings",
                    body={"accelerationRefreshPeriod": 0,
                          "accelerationGracePeriod": 0})
    assert code == 200
    code, st = _call(port, "GET",
                     "/api/v3/dataset/rg.V1/acceleration/settings")
    assert st["accelerationRefreshPeriod"] == 0
    assert st["accelerationGracePeriod"] == 0
    code, out = _call(port, "POST",
                      "/api/v3/dataset/rg.V1/moveTo/rg.v2")
    assert code == 200, out
    code, st = _call(port, "GET",
                     "/api/v3/dataset/rg.v2/acceleration/settings")
    assert st["accelerationRefreshPeriod"] == 0
    # DDL-set policy reads back over REST regardless of case
    eng.sql("alter vds RG.V2 set acceleration refresh every 90 seconds")
    code, st = _call(port, "GET",
                     "/api/v3/dataset/rg.v2/acceleration/settings")
    assert st["accelerationRefreshPeriod"] == 90_000
    # unknown dataset -> 404; unknown target space -> 400; bad shape
    code, _ = _call(port, "GET",
                    "/api/v3/dataset/no.such/descendants")
    assert code == 404
    code, _ = _call(port, "GET",
                    "/api/v3/dataset/no.such/acceleration/settings")
    assert code == 404
    code, out = _call(port, "POST",
                      "/api/v3/dataset/rg.v2/moveTo/typoSpace.v")
    assert code == 400 and "no such space" in out["errorMessage"]
    assert "typoSpace" not in eng.spaces
    code, out = _call(port, "PUT",
                      "/api/v3/dataset/noDot/copyFrom/rg.v2")
    assert code == 400, out


# --------------------------------------------------------------------------
# round-13 security hardening (ADVICE r12: bootstrap bypass, ops-route
# admin gate + path confinement, upload extension, temp-token identity,
# move_vds atomicity)
# --------------------------------------------------------------------------

def test_ops_routes_admin_gate_and_path_confinement(spark, tmp_path):
    """Backup/restore/export-profiles/kvstore-report are privileged
    (the reference gates them behind the admin role): a plain
    logged-in user must neither write server filesystem paths nor
    restore credential-bearing users; admin paths are confined to the
    configured backup root."""
    import os

    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.create_user("ops", password="pw")
    eng.create_user("pleb", password="pw")
    eng.create_role("ADMIN")
    eng.grant_role("ADMIN", "ops")
    root = str(tmp_path / "backups")
    server, _t = serve_rest_background(eng, token="sec",
                                       backup_root=root)
    port = server.server_address[1]
    try:
        _, lp = _call(port, "POST", "/api/v3/login",
                      body={"userName": "pleb", "password": "pw"})
        _, lo = _call(port, "POST", "/api/v3/login",
                      body={"userName": "ops", "password": "pw"})
        bdir = os.path.join(root, "b1")
        # a plain user is refused on every ops route
        for method, path in (("POST", "/api/v3/backup"),
                             ("POST", "/api/v3/backup/restore"),
                             ("POST", "/api/v3/export-profiles"),
                             ("GET", "/api/v3/kvstore/report")):
            code, out = _call(
                port, method, path,
                body=({"backupDir": bdir, "outputFilePath": bdir}
                      if method == "POST" else None),
                token=lp["token"])
            assert code == 403, (path, out)
        # the ADMIN-role session and the static token both pass
        code, out = _call(port, "POST", "/api/v3/backup",
                          body={"backupDir": bdir},
                          token=lo["token"])
        assert code == 200, out
        code, out = _call(port, "GET", "/api/v3/kvstore/report",
                          token="sec")
        assert code == 200, out
        # confinement: paths outside the backup root refuse even for
        # an admin (traversal and absolute escapes alike)
        for evil in (str(tmp_path / ".." / "evil"),
                     os.path.join(root, "..", "evil"),
                     "/etc/cron.d"):
            code, out = _call(port, "POST", "/api/v3/backup",
                              body={"backupDir": evil}, token="sec")
            assert code == 400, (evil, out)
            assert not os.path.exists(os.path.realpath(evil)) or \
                evil == "/etc/cron.d"
        code, out = _call(port, "POST", "/api/v3/export-profiles",
                          body={"outputFilePath": "/etc/xdg"},
                          token="sec")
        assert code == 400, out
    finally:
        server.shutdown()


def test_upload_extension_validated(rest):
    """ADVICE r12: the client-supplied ?extension= must be a bare
    alnum token — '/', '..' or whitespace would stage writes outside
    .staging or strand files _staged_path can never resolve."""
    eng, port = rest
    for bad in ("csv/../../x", "c%20sv", "..", "a.b"):
        code, out = _call(
            port, "POST",
            "/api/v3/home/@home/upload_start/extcheck"
            f"?extension={bad}",
            raw_body=b"a,b\n1,2\n")
        assert code == 400, (bad, out)
    code, out = _call(port, "POST",
                      "/api/v3/home/@home/upload_start/extcheck"
                      "?extension=CSV",
                      raw_body=b"a,b\n1,2\n")
    assert code == 200 and out["name"] == "extcheck.csv", out


def test_temp_token_carries_minting_user(spark):
    """ADVICE r12: a temp token acts as the user who minted it (not
    as 'admin'), the static token gets the distinct $service
    principal, and temp tokens still do NOT authenticate as full
    sessions (user_of stays session-only for Flight)."""
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.create_user("carol", password="pw")
    server, _t = serve_rest_background(eng, token="sec")
    port = server.server_address[1]
    tm = server.RequestHandlerClass.tokens
    try:
        _, sess = _call(port, "POST", "/api/v3/login",
                        body={"userName": "carol", "password": "pw"})
        # carol stars an entity, then mints a temp token for the
        # preference route: the temp token must see CAROL's stars
        eng.create_space("tts")
        eng.create_vds("tts", "v1", "select 1 as x")
        code, _ = _call(port, "PUT",
                        "/api/v3/users/preferences/STARRED/"
                        "dataset%2Ftts.v1", token=sess["token"])
        assert code == 200
        code, out = _call(port, "POST",
                          "/api/v3/temp-token?request="
                          "/api/v3/users/preferences/STARRED"
                          "&durationSeconds=60",
                          token=sess["token"])
        assert code == 200
        temp = out["token"]
        assert tm.principal_of(temp) == "carol"
        assert tm.user_of(temp) is None  # not a session credential
        code, out = _call(port, "GET",
                          f"/api/v3/users/preferences/STARRED"
                          f"?token={temp}")
        assert code == 200, out
        assert [e["entityId"] for e in out["entities"]] == \
            ["dataset/tts.v1"]
        # the static token's per-user state is its own principal —
        # it must NOT alias carol (or any real account)
        code, out = _call(port, "GET",
                          "/api/v3/users/preferences/STARRED",
                          token="sec")
        assert code == 200 and out["entities"] == [], out
    finally:
        server.shutdown()


def test_move_vds_rolls_back_on_failure(spark):
    """ADVICE r12: move_vds is all-or-nothing — when a post-create
    step raises, the new registration is dropped and the refresh
    policy/reflection anchors stay on the old path."""
    import pytest as _pytest

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    eng.create_space("mv")
    eng.create_space("mv2")
    eng.create_vds("mv", "src", "select * from nation")
    eng.sql("alter vds mv.src set acceleration refresh every "
            "120 seconds")
    store = eng._refl_store
    assert "mv.src" in store.refresh_policies
    orig_drop = eng.drop_vds
    calls = {"n": 0}

    def exploding_drop(space, name):
        if (space, name) == ("mv", "src"):
            calls["n"] += 1
            raise RuntimeError("simulated drop failure")
        return orig_drop(space, name)

    eng.drop_vds = exploding_drop
    try:
        with _pytest.raises(RuntimeError, match="simulated"):
            eng.move_vds("mv.src", "mv2.dst")
    finally:
        eng.drop_vds = orig_drop
    assert calls["n"] == 1
    # old binding and its settings survive; the target is gone
    assert "src" in eng.spaces["mv"].vds
    assert "dst" not in eng.spaces["mv2"].vds
    assert "mv.src" in store.refresh_policies
    assert "mv2.dst" not in store.refresh_policies
    assert eng.sql("select count(*) as n from mv.src"
                   ).collect()[0]["n"] > 0


def test_explore_run_routes_through_jobs_store(spark):
    """VERDICT r12 weak: run must never collect an unbounded result
    driver-side — it executes under a job id, stores at most
    max_stored rows, returns the FIRST PAGE + jobId, and pages/
    downloads through the normal job routes."""
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    server, _t = serve_rest_background(eng)
    hcls = server.RequestHandlerClass
    old_stored, old_page = hcls.max_stored, hcls.default_limit
    hcls.max_stored, hcls.default_limit = 200, 25
    port = server.server_address[1]
    try:
        code, out = _call(port, "POST",
                          "/api/v3/datasets/new_untitled"
                          "?parentDataset=orders&newVersion=r0"
                          "&limit=5")
        assert code == 200, out
        path = ".".join(out["dataset"]["fullPath"])
        code, out = _call(port, "GET",
                          f"/api/v3/dataset/{path}/version/r0/run")
        assert code == 200, out
        # first page only, plus the job handle
        assert out["data"]["returnedRowCount"] == 25
        assert len(out["data"]["rows"]) == 25
        jid = out["jobId"]["id"]
        assert out["paginationUrl"] == f"/api/v3/job/{jid}/results"
        # the job store holds the capped result set (orders at this
        # SF is far bigger than 200 rows)
        total = eng.spark.table("orders").count()
        assert total > 200
        code, res = _call(port, "GET",
                          f"/api/v3/job/{jid}/results"
                          "?offset=190&limit=50")
        assert code == 200, res
        assert res["rowCount"] == 200          # capped, not `total`
        assert len(res["rows"]) == 10          # 190..200
        # the download streams the stored rows as CSV
        code, raw = _call(port, "GET",
                          f"/api/v3/job/{jid}/download?format=csv",
                          raw=True)
        assert code == 200
        lines = raw.decode().strip().splitlines()
        assert len(lines) == 201  # header + 200 stored rows
        assert lines[0].split(",")[0] == "o_orderkey"
        # transformAndRun takes the same path
        code, out = _call(
            port, "POST",
            f"/api/v3/dataset/{path}/version/r0/transformAndRun"
            "?newVersion=r1",
            body={"type": "drop",
                  "droppedColumnName": "o_orderpriority"})
        assert code == 200, out
        assert out["jobId"]["id"] != jid
        assert out["data"]["returnedRowCount"] == 25
        assert "o_orderpriority" not in [
            c["name"] for c in out["data"]["columns"]]
    finally:
        hcls.max_stored, hcls.default_limit = old_stored, old_page
        server.shutdown()
    # embedded (no-executor) use still has NO uncapped path
    from dremio_oss_spark.explore import ExploreService

    svc = ExploreService(eng)
    svc.new_untitled_from_table("orders", "e0")
    out = svc.run("tmp.UNTITLED", "e0", limit=7)
    assert out["data"]["returnedRowCount"] == 7
    assert "jobId" not in out


def test_review_route_reloads_version(rest):
    """reviewDatasetVersion (DatasetVersionResource.java:427): the UI
    back-navigation reload — same preview payload, with the original
    run's jobId echoed for stored-result re-attachment."""
    eng, port = rest
    code, out = _call(port, "POST",
                      "/api/v3/datasets/new_untitled"
                      "?parentDataset=region&newVersion=rv0&limit=3")
    assert code == 200, out
    path = ".".join(out["dataset"]["fullPath"])
    code, rev = _call(port, "GET",
                      f"/api/v3/dataset/{path}/version/rv0/review"
                      "?limit=3&jobId=abc123")
    assert code == 200, rev
    assert rev["data"]["returnedRowCount"] == 3
    assert rev["dataset"]["datasetVersion"] == "rv0"
    assert rev["jobId"] == {"id": "abc123"}
    assert rev["paginationUrl"] == "/api/v3/job/abc123/results"
    # without a jobId the payload is a plain preview reload
    code, rev2 = _call(port, "GET",
                       f"/api/v3/dataset/{path}/version/rv0/review")
    assert code == 200 and "jobId" not in rev2


def test_admin_gate_username_is_not_a_role(spark):
    """Second-review finding: a user merely NAMED 'Admin' (self-
    registered) must NOT pass the ops-route gate — only a granted
    (possibly transitive) ADMIN role or the static token does."""
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.create_user("Admin", password="pw")   # name, not a role
    eng.create_user("bob", password="pw")
    eng.create_role("ADMIN")
    eng.create_role("ops_team")
    eng.grant_role("ADMIN", "ops_team")       # transitive chain
    eng.grant_role("ops_team", "bob")
    server, _t = serve_rest_background(eng, token="sec")
    port = server.server_address[1]
    try:
        _, la = _call(port, "POST", "/api/v3/login",
                      body={"userName": "Admin", "password": "pw"})
        _, lb = _call(port, "POST", "/api/v3/login",
                      body={"userName": "bob", "password": "pw"})
        code, out = _call(port, "GET", "/api/v3/kvstore/report",
                          token=la["token"])
        assert code == 403, out   # the NAME grants nothing
        code, out = _call(port, "GET", "/api/v3/kvstore/report",
                          token=lb["token"])
        assert code == 200, out   # transitive ADMIN membership does
    finally:
        server.shutdown()


def test_version_overwrite_invalidates_sample_cache(rest):
    """Second-review finding: version ids are client-supplied, so
    re-creating a version must drop its materialized histogram
    sample — cards must never read the previous dataset's rows."""
    eng, port = rest
    svc = None
    code, out = _call(port, "POST",
                      "/api/v3/datasets/new_untitled"
                      "?parentDataset=region&newVersion=ow1&limit=2")
    assert code == 200, out
    path = ".".join(out["dataset"]["fullPath"])
    code, h1 = _call(port, "POST",
                     f"/api/v3/dataset/{path}/version/ow1/histogram",
                     body={"colName": "r_name"})
    assert code == 200 and h1["availableValuesCount"] > 0
    # overwrite the SAME version id with a different parent
    code, out = _call(port, "POST",
                      "/api/v3/datasets/new_untitled"
                      "?parentDataset=orders&newVersion=ow1&limit=2")
    assert code == 200, out
    code, h2 = _call(port, "POST",
                     f"/api/v3/dataset/{path}/version/ow1/histogram",
                     body={"colName": "o_orderstatus"})
    assert code == 200, h2
    # counts come from ORDERS (thousands of rows), not stale region
    assert h2["availableValuesCount"] > h1["availableValuesCount"]


def test_review_findings_r13_advice_regressions(spark, tmp_path):
    """ADVICE r13 regressions, all four:
    (1) run() through the tracked-job executor keeps DUPLICATE output
        column names as distinct positional cells;
    (2) the default server confines ops paths to <warehouse>/_ops
        ("auto" backup_root) — arbitrary absolute paths refuse;
    (3) on an OPEN (token-less) server a minted temp token passes the
        admin gate exactly like the anonymous caller (a credential
        can't grant less than none);
    (4) a TIME-typed column routes to the group-by-value histogram
        arm instead of raising on date subtraction."""
    import os

    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    server, _t = serve_rest_background(eng)   # default backup_root
    port = server.server_address[1]
    hcls = server.RequestHandlerClass
    try:
        # (1) duplicate output column names through the run executor
        code, out = _call(port, "POST",
                          "/api/v3/datasets/new_untitled_sql"
                          "?newVersion=dup1&limit=2",
                          body={"sql": "select r_regionkey as d, "
                                       "r_name as d from region"})
        assert code == 200, out
        path = ".".join(out["dataset"]["fullPath"])
        code, out = _call(port, "GET",
                          f"/api/v3/dataset/{path}/version/dup1/run")
        assert code == 200, out
        assert [c["name"] for c in out["data"]["columns"]] == \
            ["d", "d"]
        for row in out["data"]["rows"]:
            assert isinstance(row[0], int) and \
                isinstance(row[1], str), row  # NOT collapsed
        # (2) default confinement: escape refused, confined path works
        assert hcls.backup_root and hcls.backup_root.endswith("_ops")
        code, out = _call(port, "POST", "/api/v3/backup",
                          body={"backupDir": str(tmp_path / "esc")})
        assert code == 400, out
        assert not (tmp_path / "esc").exists()
        inside = os.path.join(hcls.backup_root, "b1")
        code, out = _call(port, "POST", "/api/v3/backup",
                          body={"backupDir": inside})
        assert code == 200, out
        assert os.path.exists(out["backupPath"])
        # (3) open-server temp token passes the admin gate
        code, out = _call(port, "POST",
                          "/api/v3/temp-token?request="
                          "/api/v3/kvstore/report&durationSeconds=60")
        assert code == 200, out
        code, rep = _call(port, "GET",
                          f"/api/v3/kvstore/report?token={out['token']}")
        assert code == 200, rep
        # (4) TIME column histogram: group-by-value arm, no 500.
        # sqlFields types are what _column_type consults; a
        # convert-to-TIME transform records TIME over an HH:mm:ss
        # string column — simulate that recorded field type directly.
        code, out = _call(port, "POST",
                          "/api/v3/datasets/new_untitled_sql"
                          "?newVersion=tt1&limit=2",
                          body={"sql": "select concat(lpad(cast("
                                       "r_regionkey as string), 2, "
                                       "'0'), ':00:00') as t "
                                       "from region"})
        assert code == 200, out
        tpath = ".".join(out["dataset"]["fullPath"])
        entry = hcls.explore.get_version(tpath, "tt1")
        for f in entry["sqlFields"]:
            if f["name"] == "t":
                f["type"] = "TIME"
        code, hist = _call(port, "POST",
                           f"/api/v3/dataset/{tpath}/version/tt1/"
                           f"histogram", body={"colName": "t"})
        assert code == 200, hist
        assert hist["availableValuesCount"] == 5
        assert {v["value"] for v in hist["availableValues"]} == \
            {"00:00:00", "01:00:00", "02:00:00", "03:00:00",
             "04:00:00"}
        assert all(v["type"] == "TIME"
                   for v in hist["availableValues"])
    finally:
        server.shutdown()


def test_histogram_full_mode_vs_sample(spark):
    """VERDICT r13 item 5: the default histogram is the preview-SAMPLE
    card (max_stored rows); ?mode=full runs the exact whole-dataset
    GROUP BY as a tracked job — counts cover every row, the response
    carries the jobId, and the job lands in the jobs/telemetry
    stores."""
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    server, _t = serve_rest_background(eng)
    hcls = server.RequestHandlerClass
    old_stored = hcls.max_stored
    hcls.max_stored = 100     # sample sees 100 rows; full sees all
    port = server.server_address[1]
    try:
        code, out = _call(port, "POST",
                          "/api/v3/datasets/new_untitled"
                          "?parentDataset=orders&newVersion=h0"
                          "&limit=2")
        assert code == 200, out
        path = ".".join(out["dataset"]["fullPath"])
        total = eng.spark.table("orders").count()
        assert total > 100
        code, samp = _call(port, "POST",
                           f"/api/v3/dataset/{path}/version/h0/"
                           f"histogram", body={"colName":
                                               "o_orderstatus"})
        assert code == 200, samp
        assert samp["availableValuesCount"] == 100   # sample-bounded
        assert "jobId" not in samp
        code, full = _call(port, "POST",
                           f"/api/v3/dataset/{path}/version/h0/"
                           f"histogram?mode=full",
                           body={"colName": "o_orderstatus"})
        assert code == 200, full
        assert full["mode"] == "full"
        assert full["availableValuesCount"] == total  # exact
        assert sum(v["count"] for v in full["availableValues"]) \
            == total
        # the skew is visible only in full mode at this sample size:
        # every status present with its true count
        by_val = {v["value"]: v["count"]
                  for v in full["availableValues"]}
        truth = {r["o_orderstatus"]: r["n"] for r in eng.sql(
            "select o_orderstatus, count(*) as n from orders "
            "group by 1").collect()}
        assert by_val == truth
        # tracked: the job is COMPLETED in the jobs store with the
        # bounded card as its result rows
        jid = full["jobId"]["id"]
        code, job = _call(port, "GET", f"/api/v3/job/{jid}")
        assert code == 200 and job["jobState"] == "COMPLETED", job
        code, res = _call(port, "GET", f"/api/v3/job/{jid}/results")
        assert code == 200
        assert res["rowCount"] == len(full["availableValues"])
    finally:
        hcls.max_stored = old_stored
        server.shutdown()


def test_review_findings_r14_self_review(spark, tmp_path):
    """Round-14 self-review regressions: (1) duplicate output column
    names stay distinct through the STORED result too (/results pages
    + csv download, not just the run first page); (2) a proxied
    Nessie Put whose metadataLocation escapes the source root answers
    400 and registers nothing; (3) UPDATE SET resolves its target
    column case-insensitively like the rest of Spark SQL."""
    import json as _j

    from dremio_oss_spark.server.rest import serve_rest_background
    from dremio_oss_spark.sources.delta import (read_delta,
                                                update_delta,
                                                write_delta)

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]
    try:
        # (1) dup columns: stored rows are positional lists
        code, out = _call(port, "POST", "/api/v3/sql",
                          body={"sql": "select r_regionkey as d, "
                                       "r_name as d from region"})
        assert code == 200, out
        jid = out["id"]
        code, res = _call(port, "GET",
                          f"/api/v3/job/{jid}/results?limit=3")
        assert code == 200, res
        assert [c["name"] for c in res["schema"]] == ["d", "d"]
        for row in res["rows"]:
            assert isinstance(row, list) and len(row) == 2, row
            assert isinstance(row[0], int) and \
                isinstance(row[1], str), row
        code, raw = _call(port, "GET",
                          f"/api/v3/job/{jid}/download?format=csv",
                          raw=True)
        assert code == 200
        lines = raw.decode().strip().splitlines()
        assert lines[0] == "d,d"
        assert all(len(ln.split(",")) == 2 for ln in lines[1:])
        # unique-name results keep the dict shape (API unchanged)
        code, out = _call(port, "POST", "/api/v3/sql",
                          body={"sql": "select r_regionkey "
                                       "from region"})
        code, res = _call(port, "GET",
                          f"/api/v3/job/{out['id']}/results?limit=1")
        assert isinstance(res["rows"][0], dict)
        # (2) proxied Put escaping the source root → 400, no commit
        eng.create_versioned_source("vsec", str(tmp_path / "vsec"))
        for evil in ("/etc/passwd_dir/metadata",
                     str(tmp_path / "vsec") + "/../out/metadata"):
            code, out = _call(
                port, "POST",
                "/nessie-proxy/v2/source/vsec/trees/main/history/"
                "commit",
                body={"commitMeta": {"message": "x"},
                      "operations": [
                          {"type": "PUT",
                           "key": {"elements": ["t"]},
                           "content": {"type": "ICEBERG_TABLE",
                                       "metadataLocation": evil}}]})
            assert code == 400, (evil, out)
        code, ents = _call(port, "GET",
                           "/nessie-proxy/v2/source/vsec/trees/main/"
                           "entries")
        assert ents["entries"] == []          # nothing half-committed
        # malformed requests are 400s, not 404s
        assert _call(port, "POST",
                     "/nessie-proxy/v2/source/vsec/trees")[0] == 400
        assert _call(
            port, "POST",
            "/nessie-proxy/v2/source/vsec/trees/main/history/commit",
            body={"operations": []})[0] == 400
        assert _call(
            port, "DELETE",
            "/nessie-proxy/v2/source/vsec/trees/main")[0] == 400
        # (3) case-insensitive UPDATE SET target resolution
        d = str(tmp_path / "ci_delta")
        df = spark.createDataFrame([(1, 10), (2, 80)],
                                   "k long, val long")
        write_delta(spark, df, d)
        update_delta(spark, d, {"VAL": "val + 5"}, "k = 2")
        got = {(r["k"], r["val"])
               for r in read_delta(spark, d).collect()}
        assert got == {(1, 10), (2, 85)}
        with pytest.raises(ValueError, match="unknown column"):
            update_delta(spark, d, {"nope": "1"}, "true")
    finally:
        server.shutdown()
