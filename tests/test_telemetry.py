"""Job telemetry: statements record state and timings only; profiles
are built from Spark's SQL status store when they are read."""

from __future__ import annotations

import json as _json
import urllib.request as rq

from .conftest import SF_SMALL, count_py4j


def test_metric_value_parses_ui_strings():
    from dremio_oss_spark.plans.telemetry import metric_value

    assert metric_value("2,001,500") == 2001500
    assert metric_value("35.8 KiB") == round(35.8 * 1024)
    assert metric_value("0.0 B") == 0
    assert metric_value("655 ms") == 655
    assert metric_value("1.2 m") == 72000
    assert metric_value("1.39 h") == round(1.39 * 3_600_000)
    # a spread over tasks reads its total ...
    assert metric_value(
        "total (min, med, max (stageId: taskId))\n"
        "4.8 MiB (1024.0 B, 2.9 KiB, 4.8 MiB (stage 3.0: task 17))"
    ) == round(4.8 * (1 << 20))
    assert metric_value(
        "total (min, med, max (stageId: taskId))\n"
        "9.0 s (3 ms, 9.0 s, 9.0 s (stage 3.0: task 17))") == 9000
    # ... an average its median
    assert metric_value("(min, med, max (stageId: taskId)):\n"
                        "(1, 2.5, 4 (stage 3.0: task 17))") == 2
    assert metric_value("1.3") == 1
    assert metric_value(None) is None and metric_value("n/a") is None


def test_complete_makes_no_py4j_call(spark):
    from dremio_oss_spark.plans.telemetry import JobTelemetryStore

    tel = JobTelemetryStore(spark)
    tel.start("j0", "select 1", job_group="lib-job-j0")
    tel.planned("j0", 1.5)
    with count_py4j() as c:
        tel.complete("j0", execution_ms=2.0, row_count=1)
    assert c.calls == 0
    assert tel.get("j0")["state"] == "COMPLETED"


def test_profile_without_retained_jobs_is_expired(spark):
    """A group Spark's status store holds no job for reports EXPIRED
    instead of empty lists, and an old job's answer is memoized."""
    from dremio_oss_spark.plans.telemetry import JobTelemetryStore

    tel = JobTelemetryStore(spark)
    tel.start("j1", "select 1", job_group="lib-job-never-ran")
    tel.complete("j1", row_count=1)
    prof = tel.profile("j1")
    assert prof["profileStatus"] == "EXPIRED"
    assert prof["plan"] is None
    assert prof["operators"] == [] and prof["phases"] == []
    tel._jobs["j1"]["endTime"] -= 2 * tel.SETTLE_MS
    assert tel.profile("j1")["profileStatus"] == "EXPIRED"
    with count_py4j() as c:
        assert tel.profile("j1")["profileStatus"] == "EXPIRED"
    assert c.calls == 0


def test_covered_rest_statement_py4j_budget(spark):
    """A reflection-covered REST statement answered from the plan cache
    stays within 200 py4j round trips: completing its job records no
    profile.  The profile is built on the first read, then memoized."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}{path}", method=method,
            data=_json.dumps(body).encode() if body is not None else None,
            headers={"Content-Type": "application/json"})
        with rq.urlopen(req) as r:
            return _json.loads(r.read())

    q = ("select n_regionkey, sum(n_nationkey) as s from nation "
         "group by n_regionkey")
    eng.sql("ALTER TABLE nation CREATE AGGREGATE REFLECTION tel_budget_r "
            "USING DIMENSIONS (n_regionkey) MEASURES (n_nationkey (SUM))")
    try:
        call("POST", "/api/v3/sql", {"sql": q})
        hits = eng.plan_cache_hits
        with count_py4j() as c:
            out = call("POST", "/api/v3/sql", {"sql": q})
        assert eng.plan_cache_hits == hits + 1
        assert out["accelerated_by"] == "tel_budget_r"
        assert c.calls <= 200, c.calls
        prof = call("GET", f"/api/v3/job/{out['id']}/profile")
        assert prof["profileStatus"] == "COMPLETE"
        assert prof["operators"] and prof["phases"]
        assert prof["plan"].startswith("== Physical Plan ==")
        with count_py4j() as c:
            again = call("GET", f"/api/v3/job/{out['id']}/profile")
        assert again["operators"] == prof["operators"] and c.calls == 0
    finally:
        server.shutdown()
        eng._refl_store.drop("tel_budget_r")
