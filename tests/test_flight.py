"""Arrow Flight SQL endpoint: queries over the wire stream Arrow
batches through the full engine surface (dialect shims, reflections,
policies all apply — the server IS the library surface)."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def flight_setup(spark):
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.flight import serve_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_background(eng)
    yield eng, server
    server.shutdown()


def test_flight_query_roundtrip(flight_setup, spark):
    from dremio_oss_spark.server.flight import flight_query

    _eng, server = flight_setup
    tab = flight_query(
        server.port,
        "select l_returnflag, count(*) as n from lineitem "
        "group by l_returnflag order by l_returnflag")
    got = dict(zip(tab.column("l_returnflag").to_pylist(),
                   tab.column("n").to_pylist()))
    exp = {r[0]: r[1] for r in spark.sql(
        "select l_returnflag, count(*) from lineitem "
        "group by l_returnflag").collect()}
    assert got == exp


def test_flight_engine_surface_applies(flight_setup):
    """Dialect-only SQL (NDV shim) works over the wire — proof the
    engine's rewrite pipeline, not bare spark.sql, serves the query."""
    from dremio_oss_spark.server.flight import flight_query

    _eng, server = flight_setup
    tab = flight_query(server.port,
                       "select ndv(c_nationkey) as n from customer")
    assert tab.column("n").to_pylist()[0] > 0


def test_flight_errors_and_actions(flight_setup):
    import pyarrow.flight as fl

    from dremio_oss_spark.server.flight import flight_query

    _eng, server = flight_setup
    with pytest.raises(fl.FlightServerError):
        flight_query(server.port, "select * from no_such_table")
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    assert [r.body.to_pybytes() for r in client.do_action("ping")] \
        == [b"pong"]
    client.close()


def test_flight_bearer_auth(spark):
    import pyarrow.flight as fl

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.flight import (flight_query,
                                                serve_background)

    eng = Engine(spark)
    server, _t = serve_background(eng, token="tkn")
    try:
        with pytest.raises(fl.FlightUnauthenticatedError):
            flight_query(server.port, "select 1 as one")
        tab = flight_query(server.port, "select 1 as one", token="tkn")
        assert tab.column("one").to_pylist() == [1]
    finally:
        server.shutdown()


def test_rest_sql_endpoint(spark):
    """REST SQL API (SQLResource.java shape): POST a statement, get
    JSON rows + schema + acceleration info; errors come back as the
    error envelope; catalog and health routes respond; bearer auth
    gates when configured."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def post(body, token=None, expect_ok=True):
        req = rq.Request(
            f"http://127.0.0.1:{port}/api/v3/sql",
            data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json",
                     **({"Authorization": f"Bearer {token}"}
                        if token else {})})
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        code, out = post({"sql": "select l_returnflag, count(*) as n "
                                 "from lineitem group by l_returnflag"})
        assert code == 200 and out["rowCount"] == 3
        assert {c["name"] for c in out["schema"]} == {"l_returnflag", "n"}
        got = {r["l_returnflag"]: r["n"] for r in out["rows"]}
        exp = {r[0]: r[1] for r in spark.sql(
            "select l_returnflag, count(*) from lineitem "
            "group by l_returnflag").collect()}
        assert got == exp

        # result cap (DAC-style limit)
        code, out = post({"sql": "select l_orderkey from lineitem",
                          "limit": 7})
        assert code == 200 and out["rowCount"] == 7

        # error envelope
        code, out = post({"sql": "select * from no_such"})
        assert code == 400 and "errorMessage" in out
        code, out = post({"nosql": 1})
        assert code == 400

        # catalog + health
        with rq.urlopen(f"http://127.0.0.1:{port}/health") as r:
            assert _json.loads(r.read())["status"] == "ok"
        with rq.urlopen(f"http://127.0.0.1:{port}/api/v3/catalog") as r:
            names = {x["name"] for x in _json.loads(r.read())["data"]}
        assert "lineitem" in names
    finally:
        server.shutdown()

    # token-gated instance
    server2, _t2 = serve_rest_background(eng, token="tkn")
    port2 = server2.server_address[1]
    try:
        def post2(body, token=None):
            req = rq.Request(
                f"http://127.0.0.1:{port2}/api/v3/sql",
                data=_json.dumps(body).encode(),
                headers={"Content-Type": "application/json",
                         **({"Authorization": f"Bearer {token}"}
                            if token else {})})
            try:
                with rq.urlopen(req) as r:
                    return r.status
            except rq.HTTPError as e:
                return e.code
        assert post2({"sql": "select 1"}) == 401
        assert post2({"sql": "select 1"}, token="tkn") == 200
    finally:
        server2.shutdown()


def test_flight_auth_rejects_prefixed_token(spark):
    """Auth must be exact-match: a forged token that merely CONTAINS the
    real one is rejected."""
    import pyarrow.flight as fl

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.flight import (flight_query,
                                                serve_background)

    eng = Engine(spark)
    server, _t = serve_background(eng, token="tkn")
    try:
        with pytest.raises(fl.FlightUnauthenticatedError):
            flight_query(server.port, "select 1 as one", token="tkn-evil")
        with pytest.raises(fl.FlightUnauthenticatedError):
            flight_query(server.port, "select 1 as one", token="xtkn")
        assert flight_query(server.port, "select 1 as one",
                            token="tkn").num_rows == 1
    finally:
        server.shutdown()


def test_flight_statement_executes_once(flight_setup, spark, tmp_path):
    """The GetFlightInfo -> DoGet two-step must execute a statement
    ONCE — DML sent over Flight previously applied twice."""
    from dremio_oss_spark.server.flight import flight_query
    from dremio_oss_spark.sources.delta import read_delta, write_delta

    from pyspark.sql import functions as F

    _eng, server = flight_setup
    t = str(tmp_path / "d")
    write_delta(spark, spark.range(5).select(F.col("id").alias("k")), t)
    tab = flight_query(
        server.port,
        f"insert into '{t}' select id + 100 as k from range(3)")
    assert tab.num_rows >= 0  # status frame
    assert read_delta(spark, t).count() == 8  # 5 + 3, NOT 5 + 6


def test_rest_accelerated_by_not_stale(spark, tmp_path):
    """A statement served after an accelerated one must not inherit its
    acceleration marker."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE nation CREATE AGGREGATE REFLECTION rest_acc "
            "USING DIMENSIONS (n_regionkey) MEASURES (n_nationkey (COUNT))")
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def post(body):
        req = rq.Request(f"http://127.0.0.1:{port}/api/v3/sql",
                         data=_json.dumps(body).encode(),
                         headers={"Content-Type": "application/json"})
        with rq.urlopen(req) as r:
            return _json.loads(r.read())

    try:
        out = post({"sql": "select n_regionkey, count(n_nationkey) as n "
                           "from nation group by n_regionkey"})
        assert out["accelerated_by"] == "rest_acc"
        out2 = post({"sql": "select 1 as one"})
        assert out2["accelerated_by"] is None
        # limit=0 is honored as a schema-only probe
        out3 = post({"sql": "select n_name from nation", "limit": 0})
        assert out3["rowCount"] == 0 and out3["schema"]
        # struct cells keep field names and serialize temporal fields
        out4 = post({"sql": "select named_struct('d', current_date(), "
                            "'x', 1) as s"})
        assert "d" in out4["rows"][0]["s"]
    finally:
        server.shutdown()
        eng._default_refl_store().drop("rest_acc")


def test_flight_tickets_unique_per_request(flight_setup):
    """ADVICE r5 (low): two clients issuing the SAME statement must get
    DISTINCT tickets, each redeemable once — keying the planned-frame
    cache by statement text let one overwrite the other, and the loser's
    DoGet re-ran engine.sql (re-applying DML)."""
    import pyarrow.flight as fl

    _eng, server = flight_setup
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        sql = b"select count(*) as n from nation"
        desc = fl.FlightDescriptor.for_command(sql)
        info1 = client.get_flight_info(desc)
        info2 = client.get_flight_info(desc)
        t1 = info1.endpoints[0].ticket
        t2 = info2.endpoints[0].ticket
        assert t1.ticket != t2.ticket  # unique opaque tickets
        # both redeem independently (order swapped vs issuance)
        n2 = client.do_get(t2).read_all().column("n").to_pylist()[0]
        n1 = client.do_get(t1).read_all().column("n").to_pylist()[0]
        assert n1 == n2 == 25
        # an issued ticket redeems exactly once
        with pytest.raises(fl.FlightServerError):
            client.do_get(t1)
    finally:
        client.close()


def test_flight_prepared_statement_roundtrip(flight_setup, spark):
    """Prepared statements with parameter binding over Flight — the
    CreatePreparedStatement / DoPut(parameters) / DoGet flow BI clients
    issue (DremioFlightProducer.java).  String params are escaped as
    literals; rebinding the same handle re-executes with new values."""
    import pyarrow.flight as fl

    from dremio_oss_spark.server.flight import flight_prepared_query

    _eng, server = flight_setup
    sql = ("select n_name from nation "
           "where n_regionkey = ? and n_name > ? order by n_name")
    tab = flight_prepared_query(server.port, sql, [2, "I"])
    exp = [r[0] for r in spark.sql(
        "select n_name from nation where n_regionkey = 2 "
        "and n_name > 'I' order by n_name").collect()]
    assert tab.column("n_name").to_pylist() == exp

    # rebinding: same statement, different parameters
    tab2 = flight_prepared_query(server.port, sql, [0, ""])
    exp2 = [r[0] for r in spark.sql(
        "select n_name from nation where n_regionkey = 0 "
        "order by n_name").collect()]
    assert tab2.column("n_name").to_pylist() == exp2

    # a quote in a string parameter binds as a VALUE, not as SQL
    tab3 = flight_prepared_query(
        server.port, "select ? as s from nation limit 1", ["O'Brien"])
    assert tab3.column("s").to_pylist() == ["O'Brien"]
    # ...and so does a trailing backslash: the next parameter stays a
    # value instead of running as SQL
    tab5 = flight_prepared_query(
        server.port, "select ? as a, ? as b from nation limit 1",
        ["x\\", " || current_user() as a --"])
    assert tab5.to_pylist() == [
        {"a": "x\\", "b": " || current_user() as a --"}]
    # a `?` inside a double-quoted literal, a comment, or a literal
    # after an escaped quote is text, not a placeholder
    for q, lit in (('select "?" as q, ? as v from nation limit 1', "?"),
                   ("select 'it\\'s ?' as q /* ? */, ? as v "
                    "from nation limit 1", "it's ?")):
        tab6 = flight_prepared_query(server.port, q, [7])
        assert tab6.to_pylist() == [{"q": lit, "v": 7}]

    # zero-parameter prepared statements execute without a DoPut
    tab4 = flight_prepared_query(
        server.port, "select count(*) as n from region", [])
    assert tab4.column("n").to_pylist() == [5]

    # arity mismatches error cleanly
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        res = list(client.do_action(fl.Action(
            "CreatePreparedStatement",
            b"select 1 as x from nation where n_regionkey = ?")))
        handle = res[0].body.to_pybytes()
        desc = fl.FlightDescriptor.for_command(handle)
        import pyarrow as pa
        batch = pa.table({"p0": [1], "p1": [2]})
        w, _ = client.do_put(desc, batch.schema)
        w.write_table(batch)
        w.close()
        with pytest.raises(fl.FlightServerError):
            client.get_flight_info(desc)
    finally:
        client.close()


def test_rest_async_jobs_and_result_paging(spark):
    """The reference's jobs flow over REST: async submit returns a job
    id, state polls to COMPLETED, and results page with offset/limit;
    synchronous POSTs also store their full result for re-paging; a
    failing statement lands FAILED with the error recorded."""
    import json as _json
    import time as _time
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def post(body):
        req = rq.Request(f"http://127.0.0.1:{port}/api/v3/sql",
                         data=_json.dumps(body).encode(),
                         headers={"Content-Type": "application/json"})
        with rq.urlopen(req) as r:
            return _json.loads(r.read())

    def get(path):
        try:
            with rq.urlopen(f"http://127.0.0.1:{port}{path}") as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        out = post({"sql": "select n_nationkey, n_name from nation "
                           "order by n_nationkey", "async": True})
        jid = out["id"]
        assert out["jobState"] == "RUNNING"
        for _ in range(100):
            code, st = get(f"/api/v3/job/{jid}")
            assert code == 200
            if st["jobState"] != "RUNNING":
                break
            _time.sleep(0.1)
        assert st["jobState"] == "COMPLETED" and st["rowCount"] == 25

        code, page = get(f"/api/v3/job/{jid}/results?offset=10&limit=5")
        assert code == 200 and page["rowCount"] == 25
        assert [r["n_nationkey"] for r in page["rows"]] == [10, 11, 12, 13, 14]
        code, page2 = get(f"/api/v3/job/{jid}/results?offset=24&limit=5")
        assert page2["returned"] == 1

        # synchronous POST with {"store": true}: capped rows in the
        # response, FULL result pages afterwards
        out = post({"sql": "select l_orderkey from lineitem "
                           "order by l_orderkey", "limit": 3,
                    "store": True})
        assert out["rowCount"] == 3
        code, pg = get(f"/api/v3/job/{out['id']}/results?offset=100&limit=2")
        assert code == 200 and pg["returned"] == 2 and pg["rowCount"] > 100

        # default sync POST stores only what it collected (hot path
        # stays `limit`-sized) and a negative limit errors cleanly
        out = post({"sql": "select l_orderkey from lineitem", "limit": 3})
        code, pg = get(f"/api/v3/job/{out['id']}/results?offset=0&limit=10")
        assert code == 200 and pg["rowCount"] == 3
        import urllib.error as _ue
        try:
            post({"sql": "select 1 as x", "limit": -3})
            raise AssertionError("negative limit accepted")
        except _ue.HTTPError as e:
            assert e.code == 400

        # failure lands on the job
        out = post({"sql": "select * from nope_nope", "async": True})
        for _ in range(100):
            code, st = get(f"/api/v3/job/{out['id']}")
            if st["jobState"] != "RUNNING":
                break
            _time.sleep(0.1)
        assert st["jobState"] == "FAILED" and "errorMessage" in st
        code, _pg = get(f"/api/v3/job/{out['id']}/results")
        assert code == 400
        code, _pg = get("/api/v3/job/doesnotexist")
        assert code == 404
    finally:
        server.shutdown()


def test_rest_concurrent_reads_interleave(spark):
    """Two overlapping REST reads must interleave: an async heavy read
    holds the Spark scheduler while a second, fast read completes —
    proving statement execution is no longer serialized behind the
    engine lock (reference: concurrent jobs execution,
    ForemenWorkManager.java:715).  Planning stays serialized, so the
    fast read's wall-clock bounds the planning critical section."""
    import json as _json
    import time as _time
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def post(body):
        req = rq.Request(f"http://127.0.0.1:{port}/api/v3/sql",
                         data=_json.dumps(body).encode(),
                         headers={"Content-Type": "application/json"})
        with rq.urlopen(req) as r:
            return _json.loads(r.read())

    def get(path):
        with rq.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return _json.loads(r.read())

    try:
        # a deliberately heavy read: O(|lineitem|^2 / |orders|) join
        # aggregation -- several seconds of executor work at SF_SMALL
        heavy = ("select count(*) as n from lineitem a "
                 "join lineitem b on a.l_orderkey = b.l_orderkey")
        out = post({"sql": heavy, "async": True})
        jid = out["id"]
        t0 = _time.time()
        fast = post({"sql": "select count(*) as n from region"})
        fast_wall = _time.time() - t0
        heavy_state = get(f"/api/v3/job/{jid}")["jobState"]
        assert fast and fast["rows"][0]["n"] == 5
        # the fast read returned while the heavy one was still running
        assert heavy_state == "RUNNING", (
            "heavy job finished before the fast read returned -- "
            "cannot prove interleaving (enlarge the heavy query?)")
        assert fast_wall < 5, f"fast read blocked {fast_wall:.1f}s"
        for _ in range(300):
            st = get(f"/api/v3/job/{jid}")
            if st["jobState"] != "RUNNING":
                break
            _time.sleep(0.1)
        assert st["jobState"] == "COMPLETED"
        rows = get(f"/api/v3/job/{jid}/results?limit=1")["rows"]
        assert rows[0]["n"] > 0
    finally:
        server.shutdown()


def test_flightsql_codec_golden_vectors():
    """The hand-rolled protobuf codec is pinned to SPEC bytes, not to
    itself: golden vectors computed from the protobuf wire format
    (tag = field<<3|2, varint length, payload) for the FlightSql.proto
    messages."""
    from dremio_oss_spark.server import flightsql_codec as fsql

    url = b"type.googleapis.com/arrow.flight.protocol.sql.CommandStatementQuery"
    inner = b"\x0a\x08select 1"  # field1(wt2) len=8 "select 1"
    golden = (b"\x0a" + bytes([len(url)]) + url
              + b"\x12" + bytes([len(inner)]) + inner)
    assert fsql.command_statement_query("select 1") == golden
    name, payload = fsql.any_unpack(golden)
    assert name == "CommandStatementQuery"
    assert fsql.str_field(payload) == "select 1"
    # TicketStatementQuery golden
    turl = b"type.googleapis.com/arrow.flight.protocol.sql.TicketStatementQuery"
    tinner = b"\x0a\x02q:"
    tgolden = (b"\x0a" + bytes([len(turl)]) + turl
               + b"\x12" + bytes([len(tinner)]) + tinner)
    assert fsql.ticket_statement_query(b"q:") == tgolden
    # multi-byte varint length round-trips (len > 127)
    big = fsql.command_statement_query("x" * 300)
    name2, payload2 = fsql.any_unpack(big)
    assert fsql.str_field(payload2) == "x" * 300
    # non-FlightSQL bytes fall through to None (generic path)
    assert fsql.any_unpack(b"select 1 as n") is None
    assert fsql.any_unpack(b"") is None
    # proto3 encoders OMIT default-valued fields: an empty query /
    # handle arrives with the field MISSING from the payload entirely —
    # decode to ""/b"", never KeyError (driver-found r9)
    assert fsql.str_field(b"") == ""
    assert fsql.bytes_field(b"") == b""
    # and our own encoder's empty output still round-trips
    _, empty_payload = fsql.any_unpack(fsql.command_statement_query(""))
    assert fsql.str_field(empty_payload) == ""


def test_flightsql_protobuf_statement_flow(flight_setup):
    """A FlightSQL-speaking client end-to-end: CommandStatementQuery in
    the descriptor, Any-wrapped TicketStatementQuery back, DoGet
    streams the result (DremioFlightProducer.java:89 routing)."""
    import pyarrow.flight as flight

    from dremio_oss_spark.server import flightsql_codec as fsql

    _eng, server = flight_setup
    client = flight.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        desc = flight.FlightDescriptor.for_command(
            fsql.command_statement_query(
                "select count(*) as n from region"))
        info = client.get_flight_info(desc)
        wire = info.endpoints[0].ticket.ticket
        name, payload = fsql.any_unpack(wire)
        assert name == "TicketStatementQuery"  # real protocol ticket
        table = client.do_get(info.endpoints[0].ticket).read_all()
        assert table.column("n")[0].as_py() == 5
        # one-shot redemption holds on the FlightSQL path too
        with pytest.raises(flight.FlightServerError):
            client.do_get(info.endpoints[0].ticket).read_all()
    finally:
        client.close()


def test_flightsql_protobuf_prepared_flow(flight_setup):
    """Prepared statements through the protobuf envelope:
    ActionCreatePreparedStatementRequest -> Any-wrapped Result with the
    handle, parameter upload via DoPut(CommandPreparedStatementQuery),
    execution via GetFlightInfo(same command), Close."""
    import pyarrow as pa
    import pyarrow.flight as flight

    from dremio_oss_spark.server import flightsql_codec as fsql

    _eng, server = flight_setup
    client = flight.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        res = list(client.do_action(flight.Action(
            "CreatePreparedStatement",
            fsql.action_create_prepared_request(
                "select n_name from nation where n_nationkey = ? "
                "and n_regionkey = ?"))))
        name, payload = fsql.any_unpack(res[0].body.to_pybytes())
        assert name == "ActionCreatePreparedStatementResult"
        handle = fsql.bytes_field(payload)
        desc = flight.FlightDescriptor.for_command(
            fsql.command_prepared_statement_query(handle))
        batch = pa.table({"p0": [3], "p1": [3]})
        w, _ = client.do_put(desc, batch.schema)
        w.write_table(batch)
        w.close()
        info = client.get_flight_info(desc)
        table = client.do_get(info.endpoints[0].ticket).read_all()
        assert table.num_rows == 1
        client.do_action(flight.Action(
            "ClosePreparedStatement",
            fsql.action_close_prepared_request(handle)))
        # closed handle no longer executes
        with pytest.raises(flight.FlightServerError):
            client.get_flight_info(desc)
    finally:
        client.close()


def test_flightsql_generic_fallback_still_serves(flight_setup):
    """pyarrow-only clients (no FlightSQL bindings) keep working on the
    documented generic plain-SQL path alongside the protobuf one."""
    from dremio_oss_spark.server.flight import flight_query

    _eng, server = flight_setup
    t = flight_query(server.port, "select count(*) as n from nation")
    assert t.column("n")[0].as_py() == 25


def test_flightsql_metadata_codec_golden_bytes():
    """Golden wire bytes for the catalog-metadata commands
    (FlightSql.proto; DremioFlightProducer.java:567-584,814) — the
    codec is checked against the protobuf spec, not against itself."""
    from dremio_oss_spark.server import flightsql_codec as fsql

    # CommandGetCatalogs: empty message in the Any
    url = (b"type.googleapis.com/arrow.flight.protocol.sql."
           b"CommandGetCatalogs")
    golden = b"\x0a" + bytes([len(url)]) + url + b"\x12\x00"
    assert fsql.command_get_catalogs() == golden
    # CommandGetTables with every field: strings are tag 0a/12/1a,
    # repeated table_types tag 22, include_schema bool tag 28
    inner = (b"\x0a\x03cat"          # 1: catalog "cat"
             b"\x12\x02s%"           # 2: db_schema_filter_pattern "s%"
             b"\x1a\x02t_"           # 3: table_name_filter_pattern "t_"
             b"\x22\x05TABLE"        # 4: table_types "TABLE"
             b"\x22\x04VIEW"         # 4: table_types "VIEW"
             b"\x28\x01")            # 5: include_schema true
    got = fsql.command_get_tables("cat", "s%", "t_", ("TABLE", "VIEW"),
                                  include_schema=True)
    name, payload = fsql.any_unpack(got)
    assert name == "CommandGetTables" and payload == inner
    req = fsql.parse_get_tables(payload)
    assert req == {"catalog": "cat", "db_schema_filter_pattern": "s%",
                   "table_name_filter_pattern": "t_",
                   "table_types": ("TABLE", "VIEW"),
                   "include_schema": True}
    # CommandGetSqlInfo: packed repeated uint32 (1 -> field 1 wt 2)
    name, payload = fsql.any_unpack(fsql.command_get_sql_info(0, 1, 504))
    assert name == "CommandGetSqlInfo"
    assert payload == b"\x0a\x04\x00\x01\xf8\x03"  # varints 0,1,504
    assert fsql.parse_sql_info_ids(payload) == (0, 1, 504)
    # unpacked form (what a proto2-style encoder emits) parses too
    assert fsql.parse_sql_info_ids(b"\x08\x00\x08\xf8\x03") == (0, 504)
    # empty = "send everything"
    assert fsql.parse_sql_info_ids(b"") == ()
    # CommandGetDbSchemas parse with missing optional fields
    assert fsql.parse_get_db_schemas(b"") == {
        "catalog": None, "db_schema_filter_pattern": None}


def test_flightsql_get_tables_and_schemas_e2e(flight_setup):
    """The connect-time burst of a stock ADBC/JDBC FlightSQL client:
    GetTableTypes, GetCatalogs, GetDbSchemas, GetTables (with LIKE
    filters and include_schema) all answer from the live engine
    catalog over the wire."""
    import pyarrow as pa

    from dremio_oss_spark.server import flightsql_codec as fsql
    from dremio_oss_spark.server.flight import flight_metadata

    _eng, server = flight_setup
    # table types: the catalog-api enum minus UNKNOWN
    tt = flight_metadata(server.port, fsql.command_get_table_types())
    assert tt.column("table_type").to_pylist() == [
        "TABLE", "SYSTEM_TABLE", "VIEW"]
    # catalogs: zero rows, exactly like the reference (unsupported)
    cats = flight_metadata(server.port, fsql.command_get_catalogs())
    assert cats.num_rows == 0
    assert cats.schema.field("catalog_name").type == pa.utf8()
    # db schemas: the session namespace, pattern-filterable
    schemas = flight_metadata(server.port, fsql.command_get_db_schemas())
    assert schemas.num_rows >= 1
    assert schemas.column("catalog_name").null_count == schemas.num_rows
    # tables: the registered testdata views are listed
    tabs = flight_metadata(server.port, fsql.command_get_tables())
    names = tabs.column("table_name").to_pylist()
    for t in ("lineitem", "orders", "customer"):
        assert t in names, names
    # LIKE pattern narrows (l% matches lineitem) and types filter works
    only_l = flight_metadata(
        server.port,
        fsql.command_get_tables(table_name_filter_pattern="line%"))
    assert only_l.column("table_name").to_pylist() == ["lineitem"]
    no_views = flight_metadata(
        server.port, fsql.command_get_tables(table_types=("TABLE",)))
    assert "VIEW" not in set(no_views.column("table_type").to_pylist())
    # include_schema: the per-table IPC schema bytes decode to the
    # actual Arrow schema of the table
    with_schema = flight_metadata(
        server.port,
        fsql.command_get_tables(table_name_filter_pattern="nation",
                                include_schema=True))
    assert with_schema.num_rows == 1
    blob = with_schema.column("table_schema").to_pylist()[0]
    ipc_schema = pa.ipc.read_schema(pa.BufferReader(blob))
    assert [f.name for f in ipc_schema] == [
        "n_nationkey", "n_name", "n_regionkey"]


def test_flightsql_get_sql_info_e2e(flight_setup):
    """GetSqlInfo serves the dense-union protocol schema; requested ids
    filter, empty request returns everything served."""
    import pyarrow as pa

    from dremio_oss_spark.server import flightsql_codec as fsql
    from dremio_oss_spark.server import flightsql_metadata as meta
    from dremio_oss_spark.server.flight import flight_metadata

    _eng, server = flight_setup
    info = flight_metadata(
        server.port,
        fsql.command_get_sql_info(
            meta.FLIGHT_SQL_SERVER_NAME,
            meta.FLIGHT_SQL_SERVER_READ_ONLY,
            meta.SQL_IDENTIFIER_QUOTE_CHAR,
            meta.SQL_KEYWORDS))
    assert info.column("info_name").to_pylist() == [
        0, 3, 504, 508]
    vals = info.column("value")
    assert vals.type == meta._SQL_INFO_VALUE_TYPE
    py = vals.to_pylist()
    assert py[0] == "dremio-oss-spark"
    assert py[1] is False
    assert py[2] == '"'
    assert py[3] == ["SELECT", "FROM", "WHERE", "GROUP", "ORDER",
                     "BY", "HAVING", "JOIN", "UNION", "LIMIT"]
    # empty request = every served id, sorted
    allinfo = flight_metadata(server.port, fsql.command_get_sql_info())
    ids = allinfo.column("info_name").to_pylist()
    assert ids == sorted(ids) and len(ids) >= 15
    # the map-valued branch (SQL_SUPPORTS_CONVERT, union type id 5)
    conv = flight_metadata(
        server.port,
        fsql.command_get_sql_info(meta.SQL_SUPPORTS_CONVERT))
    m = conv.column("value").to_pylist()[0]
    m = dict(m) if not isinstance(m, dict) else m
    assert 12 in m[4], m  # INTEGER converts to VARCHAR


def test_rest_catalog_crud_and_reflections(spark):
    """REST v3 catalog CRUD (CatalogResource.java:57) + reflection
    management (ReflectionResource.java:47): spaces/folders/VDS
    create/read/update/delete, promote-style refresh, and a reflection
    created over REST accelerating a query submitted over the SQL
    route."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]
    base = f"http://127.0.0.1:{port}"

    def call(method, path, body=None):
        req = rq.Request(
            base + path,
            data=_json.dumps(body).encode() if body is not None else None,
            headers={"Content-Type": "application/json"}, method=method)
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        # create space / folder / VDS
        code, sp = call("POST", "/api/v3/catalog",
                        {"entityType": "space", "name": "mart"})
        assert code == 200 and sp["id"] == "space/mart"
        code, _ = call("POST", "/api/v3/catalog",
                       {"entityType": "folder",
                        "path": ["mart", "sales"]})
        assert code == 200
        code, vds = call("POST", "/api/v3/catalog", {
            "entityType": "dataset", "type": "VIRTUAL_DATASET",
            "path": ["mart", "sales", "by_status"],
            "sql": "select o_orderstatus, count(*) as n from orders "
                   "group by o_orderstatus"})
        assert code == 200 and vds["path"] == ["mart", "sales",
                                               "by_status"]
        # read back: by id, by path, in the top-level listing
        code, ent = call("GET", "/api/v3/catalog/"
                                "dataset/mart.sales.by_status")
        assert code == 200 and "group by o_orderstatus" in ent["sql"]
        code, ent = call("GET",
                         "/api/v3/catalog/by-path/mart/sales/by_status")
        assert code == 200 and ent["type"] == "VIRTUAL_DATASET"
        code, ent = call("GET", "/api/v3/catalog/by-path/mart")
        assert code == 200 and any(
            c["path"][-1] == "by_status" for c in ent["children"])
        code, top = call("GET", "/api/v3/catalog")
        assert any(x.get("id") == "space/mart" for x in top["data"])
        # the VDS is queryable over the SQL route
        code, out = call("POST", "/api/v3/sql",
                         {"sql": "select sum(n) as total "
                                 "from mart.sales.by_status"})
        assert code == 200 and out["rows"][0]["total"] > 0
        # update the definition
        code, ent = call("PUT",
                         "/api/v3/catalog/dataset/mart.sales.by_status",
                         {"sql": "select o_orderpriority, count(*) as n "
                                 "from orders group by o_orderpriority"})
        assert code == 200 and "o_orderpriority" in ent["sql"]
        # reflection over REST accelerates a SQL-route query
        code, refl = call("POST", "/api/v3/reflection", {
            "type": "AGGREGATION", "name": "rest_refl",
            "datasetId": "orders",
            "dimensionFields": [{"name": "o_orderstatus"}],
            "measureFields": [{"name": "o_totalprice",
                               "measureTypeList": ["SUM"]}]})
        assert code == 200 and refl["id"] == "reflection/rest_refl"
        code, out = call("POST", "/api/v3/sql",
                         {"sql": "select o_orderstatus, "
                                 "sum(o_totalprice) as s from orders "
                                 "group by o_orderstatus"})
        assert code == 200 and out["accelerated_by"] == "rest_refl"
        code, lst = call("GET", "/api/v3/reflection")
        assert any(r["name"] == "rest_refl" for r in lst["data"])
        code, _ = call("DELETE", "/api/v3/reflection/rest_refl")
        assert code == 200
        code, _ = call("GET", "/api/v3/reflection/rest_refl")
        assert code == 404
        # deletes: non-empty space refuses, then empties cleanly
        code, err = call("DELETE", "/api/v3/catalog/space/mart")
        assert code == 400 and "not empty" in err["errorMessage"]
        code, _ = call("DELETE",
                       "/api/v3/catalog/dataset/mart.sales.by_status")
        assert code == 200
        code, _ = call("DELETE", "/api/v3/catalog/folder/mart.sales")
        assert code == 200
        code, _ = call("DELETE", "/api/v3/catalog/space/mart")
        assert code == 200
        code, _ = call("GET", "/api/v3/catalog/space/mart")
        assert code == 404
    finally:
        server.shutdown()


def test_flightsql_type_info_and_keys_commands(flight_setup):
    """CommandGetXdbcTypeInfo serves the JDBC getTypeInfo row shape
    (optionally filtered by java.sql.Types code); the PK/FK commands
    answer the protocol schema with ZERO endpoints and raise
    UNIMPLEMENTED on the stream, exactly the reference's behavior
    (DremioFlightProducer.java:621-661)."""
    import pyarrow.flight as fl

    from dremio_oss_spark.server import flightsql_codec as fsql
    from dremio_oss_spark.server import flightsql_metadata as meta
    from dremio_oss_spark.server.flight import flight_metadata

    _eng, server = flight_setup
    ti = flight_metadata(server.port, fsql.command_get_xdbc_type_info())
    assert ti.schema.equals(meta.GET_TYPE_INFO_SCHEMA)
    names = ti.column("type_name").to_pylist()
    assert "VARCHAR" in names and "DECIMAL" in names
    only = flight_metadata(server.port,
                           fsql.command_get_xdbc_type_info(12))
    assert only.column("type_name").to_pylist() == ["VARCHAR"]
    # keys: schema-only FlightInfo, zero endpoints
    client = fl.connect(f"grpc://127.0.0.1:{server.port}")
    try:
        for cmd, schema in (
                (fsql.command_get_primary_keys("orders"),
                 meta.GET_PRIMARY_KEYS_SCHEMA),
                (fsql.command_get_exported_keys("orders"),
                 meta.GET_KEYS_SCHEMA),
                (fsql.command_get_imported_keys("orders"),
                 meta.GET_KEYS_SCHEMA)):
            info = client.get_flight_info(
                fl.FlightDescriptor.for_command(cmd))
            assert info.schema.equals(schema)
            assert len(info.endpoints) == 0
        # a direct DoGet on a keys ticket surfaces UNIMPLEMENTED
        with pytest.raises(fl.FlightServerError, match="not supported"):
            client.do_get(fl.Ticket(
                fsql.command_get_primary_keys("orders"))).read_all()
    finally:
        client.close()


def test_rest_catalog_search(spark):
    """GET /api/v3/catalog/search?query= (CatalogResource.search):
    substring match over table/space/VDS names."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.create_space("searchsp")
    eng.create_vds("searchsp", "lineview", "select 1 as one")
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]
    try:
        with rq.urlopen(f"http://127.0.0.1:{port}"
                        f"/api/v3/catalog/search?query=line") as r:
            hits = _json.loads(r.read())["data"]
        names = {h["name"] for h in hits}
        assert "lineitem" in names
        assert "searchsp.lineview" in names
        assert all("line" in n.lower() for n in names)
    finally:
        server.shutdown()
        eng.drop_vds("searchsp", "lineview")


def test_rest_job_cancel(spark):
    """POST /api/v3/job/{id}/cancel (JobResource.java:158): a running
    async job flips to CANCELED and its tagged Spark stages are killed;
    canceling a finished job errors cleanly."""
    import json as _json
    import time as _time
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}" + path,
            data=_json.dumps(body).encode() if body is not None else b"",
            headers={"Content-Type": "application/json"}, method=method)
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        # a deliberately slow statement (cartesian-ish aggregation)
        code, out = call("POST", "/api/v3/sql", {
            "sql": "select count(*) as n from lineitem a "
                   "join lineitem b on a.l_partkey = b.l_partkey "
                   "join lineitem c on b.l_suppkey = c.l_suppkey",
            "async": True})
        assert code == 200 and out["jobState"] == "RUNNING"
        jid = out["id"]
        _time.sleep(0.3)
        code, out = call("POST", f"/api/v3/job/{jid}/cancel")
        if code == 200:  # raced completions are legitimate on tiny data
            assert out["jobState"] == "CANCELED"
            _time.sleep(1.0)  # worker must not overwrite the state
            code, st = call("GET", f"/api/v3/job/{jid}")
            assert st["jobState"] == "CANCELED"
            # canceling again errors cleanly
            code, err = call("POST", f"/api/v3/job/{jid}/cancel")
            assert code == 400 and "already" in err["errorMessage"]
        code, _ = call("POST", "/api/v3/job/nope/cancel")
        assert code == 404
    finally:
        server.shutdown()


def test_rest_reflection_dimension_granularity(spark):
    """REST Reflection bodies carry per-dimension granularity
    (reflection-intent.proto:79, DATE|NORMAL): DATE materializes the
    dim as cast(col as date), exactly the SQL BY DAY sugar."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]
    try:
        req = rq.Request(
            f"http://127.0.0.1:{port}/api/v3/reflection",
            data=_json.dumps({
                "type": "AGGREGATION", "name": "rest_gran",
                "datasetId": "events",
                "dimensionFields": [
                    {"name": "event_type"},
                    {"name": "ts", "granularity": "DATE"}],
                "measureFields": [{"name": "value",
                                   "measureTypeList": ["SUM"]}],
            }).encode(),
            headers={"Content-Type": "application/json"})
        with rq.urlopen(req) as r:
            assert r.status == 200
        refl = eng._refl_store._reflections["rest_gran"]
        assert refl.granularity == {"ts": "day"}
        mat = spark.read.parquet(eng._refl_store._data_dir(refl))
        assert dict(mat.dtypes)["ts"] == "date"
    finally:
        eng._refl_store.drop("rest_gran")
        server.shutdown()


def test_rest_scripts_crud(spark):
    """Saved SQL scripts CRUD (ScriptsResource.java:61): create, list
    with search, get, update, single + batch delete — and a stored
    script runs through the SQL route."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}" + path,
            data=_json.dumps(body).encode() if body is not None else None,
            headers={"Content-Type": "application/json"}, method=method)
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        code, sc = call("POST", "/api/v3/scripts",
                        {"name": "daily rollup",
                         "content": "select count(*) as n from orders"})
        assert code == 200 and sc["id"]
        sid = sc["id"]
        code, sc2 = call("POST", "/api/v3/scripts",
                         {"name": "other", "content": "select 1"})
        code, lst = call("GET", "/api/v3/scripts?search=daily")
        assert [x["name"] for x in lst["data"]] == ["daily rollup"]
        code, got = call("GET", f"/api/v3/scripts/{sid}")
        assert got["content"].startswith("select count")
        # POST with a query string / id suffix is NOT a GET alias
        # (advisor-found r10: copied list/get branches in do_POST made
        # these return listings instead of errors)
        code, out = call("POST", "/api/v3/scripts?search=daily", {})
        assert code == 404 and "data" not in out
        code, out = call("POST", f"/api/v3/scripts/{sid}", {})
        assert code == 404 and "content" not in out
        # the stored script runs through the SQL route
        code, out = call("POST", "/api/v3/sql", {"sql": got["content"]})
        assert code == 200 and out["rows"][0]["n"] > 0
        code, upd = call("PUT", f"/api/v3/scripts/{sid}",
                         {"content": "select 2 as two"})
        assert upd["content"] == "select 2 as two"
        assert upd["modifiedAt"] >= upd["createdAt"]
        code, res = call("POST", "/api/v3/scripts:batchDelete",
                         {"ids": [sid, "nope"]})
        assert res["deleted"] == [sid] and res["notFound"] == ["nope"]
        code, _ = call("DELETE", f"/api/v3/scripts/{sc2['id']}")
        assert code == 200
        code, lst = call("GET", "/api/v3/scripts")
        assert lst["total"] == 0
    finally:
        server.shutdown()


def test_rest_promote_to_dataset(spark, tmp_path):
    """POST /api/v3/catalog/file/{path} with a Dataset body promotes a
    parquet folder to a named physical dataset with a pinned file
    listing (CatalogResource.java:116 promoteToDataset)."""
    import json as _json
    import urllib.parse as up
    import urllib.request as rq

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    d = str(tmp_path / "folderds")
    spark.range(100).toDF("k").repartition(3).write.parquet(d)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]
    try:
        req = rq.Request(
            f"http://127.0.0.1:{port}/api/v3/catalog/file/"
            + up.quote(d.lstrip("/"), safe=""),
            data=_json.dumps({"entityType": "dataset",
                              "type": "PHYSICAL_DATASET",
                              "path": ["promoted_ds"]}).encode(),
            headers={"Content-Type": "application/json"})
        with rq.urlopen(req) as r:
            out = _json.loads(r.read())
        assert out["type"] == "PHYSICAL_DATASET"
        assert out["fileCount"] == 3
        assert spark.table("promoted_ds").count() == 100
        # promoted datasets are queryable + refreshable over REST
        req2 = rq.Request(
            f"http://127.0.0.1:{port}/api/v3/catalog/"
            "table/promoted_ds/refresh", data=b"",
            headers={"Content-Type": "application/json"})
        with rq.urlopen(req2) as r:
            assert _json.loads(r.read())["refreshed"]
        # missing path -> 404 envelope
        req3 = rq.Request(
            f"http://127.0.0.1:{port}/api/v3/catalog/file/"
            + up.quote("/no/such/dir", safe=""),
            data=_json.dumps({"path": ["nope"]}).encode(),
            headers={"Content-Type": "application/json"})
        try:
            rq.urlopen(req3)
            raise AssertionError("expected 404")
        except rq.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()
        spark.catalog.dropTempView("promoted_ds")


def test_jobs_finish_canceled_is_terminal():
    """_Jobs.finish refuses to transition out of CANCELED (check-and-set
    under the store lock): a worker's COMPLETED landing after a cancel
    must not overwrite what the client was already told (advisor-found
    r10 race between the worker's state read and its finish call)."""
    from dremio_oss_spark.server.rest import _Jobs

    jobs = _Jobs()
    jid = jobs.create()
    jobs.finish(jid, state="CANCELED", error="Query cancelled by user")
    # late worker completion: ignored wholesale (state AND fields)
    jobs.finish(jid, state="COMPLETED", rows=[{"n": 1}],
                schema=[{"name": "n", "type": "bigint"}])
    job = jobs.get(jid)
    assert job["state"] == "CANCELED" and job["rows"] == []
    # late failure: equally ignored
    jobs.finish(jid, state="FAILED", error="boom")
    assert jobs.get(jid)["state"] == "CANCELED"
    assert jobs.get(jid)["error"] == "Query cancelled by user"
    # unknown job id is a no-op, not a KeyError
    jobs.finish("nope", state="COMPLETED")


def test_rest_job_profile_and_jobs_listing(spark):
    """Per-job query profiles (JobProfileResource.java:64,
    jobAnalysis.proto:75) + filterable jobs listing
    (JobsListingResource.java:63-132): run queries through REST, fetch
    each profile — executed plan text, per-stage task metrics, nonzero
    per-operator SQLMetrics, acceleration flag — then page/filter the
    listing; sys.jobs surfaces the same columns."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def get(path):
        try:
            with rq.urlopen(f"http://127.0.0.1:{port}" + path) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    def post(body):
        req = rq.Request(
            f"http://127.0.0.1:{port}/api/v3/sql",
            data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json"})
        with rq.urlopen(req) as r:
            return _json.loads(r.read())

    try:
        out = post({"sql": "select o_orderstatus, count(*) as n "
                           "from orders group by o_orderstatus"})
        jid = out["id"]
        code, prof = get(f"/api/v3/job/{jid}/profile")
        assert code == 200
        # plan text is the EXECUTED physical plan
        assert prof["plan"] and "HashAggregate" in prof["plan"]
        # per-operator SQLMetrics with nonzero rows processed
        ops = {o["operatorName"]: o["metrics"] for o in prof["operators"]}
        assert any("HashAggregate" in n for n in ops)
        assert any(m.get("number of output rows", 0) > 0
                   for m in ops.values())
        # phase (stage) metrics captured from the status tracker
        assert prof["phases"] and all(
            p["numTasks"] > 0 for p in prof["phases"])
        assert sum(p["completedTasks"] for p in prof["phases"]) > 0
        # wall-clock split + state + row count
        assert prof["planningTimeMs"] > 0
        assert prof["executionTimeMs"] > 0
        assert prof["state"] == "COMPLETED" and prof["rowsReturned"] == 3
        assert prof["isAccelerated"] is False
        # cost-based WLM routing recorded (BasicResourceAllocator.java:
        # 155 -- sf0.001 aggregates cost under the LARGE threshold)
        assert prof["wlmQueue"] == "SMALL"
        code, _ = get("/api/v3/job/nope/profile")
        assert code == 404

        # a failed statement profiles as FAILED with the error
        try:
            post({"sql": "select * from no_such_table_xyz"})
        except rq.HTTPError:
            pass
        out2 = post({"sql": "select count(*) as n from nation"})

        # jobs listing: filter by SQL substring, state, paging
        code, lst = get("/api/v3/jobs-listing")
        assert code == 200 and lst["total"] >= 3
        assert lst["jobs"][0]["startTime"] >= lst["jobs"][-1]["startTime"]
        code, lst = get("/api/v3/jobs-listing?filter=o_orderstatus")
        assert [j["id"] for j in lst["jobs"]] == [jid]
        assert lst["jobs"][0]["queryText"].startswith("select o_order")
        code, lst = get("/api/v3/jobs-listing?state=FAILED")
        assert lst["total"] == 1 and lst["jobs"][0]["state"] == "FAILED"
        code, lst = get("/api/v3/jobs-listing?limit=1&offset=0")
        assert len(lst["jobs"]) == 1 and lst["next"] == 1
        # jobDetails alias (JobsListingResource.java:131) serves the
        # same profile document
        code, det = get(f"/api/v3/jobs-listing/{jid}/jobDetails")
        assert code == 200 and det["plan"] == prof["plan"]
        code, _ = get("/api/v3/jobs-listing/nope/jobDetails")
        assert code == 404

        # acceleration flag rides the profile (reflection-backed query)
        eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION jp_r "
                "USING DIMENSIONS (o_orderstatus) "
                "MEASURES (o_totalprice (SUM))")
        out3 = post({"sql": "select o_orderstatus, sum(o_totalprice) s "
                            "from orders group by o_orderstatus"})
        code, prof3 = get(f"/api/v3/job/{out3['id']}/profile")
        assert prof3["isAccelerated"] and prof3["accelerated_by"] == "jp_r"

        # sys.jobs carries the same columns, value-visible
        sj = eng.sys_jobs().where("query_type = 'REST'")
        row = {r["job_id"]: r for r in sj.collect()}[jid]
        assert row["status"] == "COMPLETED" and row["rows_returned"] == 3
        assert row["planning_ms"] > 0 and row["execution_ms"] > 0
        assert row["sql"].startswith("select o_orderstatus")
        assert out2["rows"][0]["n"] > 0  # sanity on the second job
    finally:
        store = getattr(eng, "_refl_store", None)
        if store is not None and "jp_r" in store._reflections:
            store.drop("jp_r")
        server.shutdown()


def test_rest_collaboration_wiki_and_tags(spark):
    """Collaboration wiki + tags CRUD (CollaborationResource.java:43:
    GET/POST /catalog/{id}/collaboration/tag|wiki) with the reference's
    optimistic version guard, and tag-indexed catalog search — a tag
    hit finds a dataset whose NAME does not match the query."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}" + path,
            data=_json.dumps(body).encode() if body is not None else None,
            headers={"Content-Type": "application/json"}, method=method)
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        # empty defaults (reference orElseGet shapes)
        code, out = call("GET",
                         "/api/v3/catalog/table/orders/collaboration/tag")
        assert code == 200 and out == {"tags": [], "version": None}
        code, out = call(
            "GET", "/api/v3/catalog/table/orders/collaboration/wiki")
        assert code == 200 and out == {"text": "", "version": None}
        # unknown entity refuses
        code, _ = call("GET",
                       "/api/v3/catalog/table/nope/collaboration/tag")
        assert code == 404

        # first write needs no version; returns version 0
        code, tags = call(
            "POST", "/api/v3/catalog/table/orders/collaboration/tag",
            {"tags": ["pii", "finance"]})
        assert code == 200 and tags == {"tags": ["pii", "finance"],
                                        "version": "0"}
        # stale/absent version on update: 409 (ConcurrentModification)
        code, out = call(
            "POST", "/api/v3/catalog/table/orders/collaboration/tag",
            {"tags": ["x"]})
        assert code == 409
        code, tags = call(
            "POST", "/api/v3/catalog/table/orders/collaboration/tag",
            {"tags": ["pii"], "version": "0"})
        assert code == 200 and tags["version"] == "1"

        # wiki: integer versions, same guard
        code, wiki = call(
            "POST", "/api/v3/catalog/table/orders/collaboration/wiki",
            {"text": "# Orders\nFact table."})
        assert code == 200 and wiki["version"] == 0
        code, _ = call(
            "POST", "/api/v3/catalog/table/orders/collaboration/wiki",
            {"text": "v2", "version": 99})
        assert code == 409
        code, wiki = call(
            "POST", "/api/v3/catalog/table/orders/collaboration/wiki",
            {"text": "v2", "version": 0})
        assert code == 200 and wiki == {"text": "v2", "version": 1}
        code, got = call(
            "GET", "/api/v3/catalog/table/orders/collaboration/wiki")
        assert got == wiki

        # bad payloads refuse
        code, _ = call(
            "POST", "/api/v3/catalog/table/orders/collaboration/tag",
            {"tags": "notalist", "version": "1"})
        assert code == 400

        # search finds the dataset BY TAG (name doesn't contain "pii")
        code, out = call("GET", "/api/v3/catalog/search?query=pii")
        hits = {h["id"]: h for h in out["data"]}
        assert "table/orders" in hits
        assert hits["table/orders"]["tags"] == ["pii"]
        # name hits still work and carry (possibly empty) tags
        code, out = call("GET", "/api/v3/catalog/search?query=lineitem")
        hits = {h["id"]: h for h in out["data"]}
        assert "table/lineitem" in hits
        assert hits["table/lineitem"]["tags"] == []
        # VDS entities collaborate too
        eng.create_space("mkt")
        eng.create_vds("mkt", "v_cust", "select 1 as x")
        code, out = call(
            "POST", "/api/v3/catalog/dataset/mkt.v_cust/collaboration/tag",
            {"tags": ["gold-layer"]})
        assert code == 200
        code, out = call("GET", "/api/v3/catalog/search?query=gold")
        assert [h["id"] for h in out["data"]] == ["dataset/mkt.v_cust"]
    finally:
        server.shutdown()


def test_rest_sql_functions_listing(spark):
    """Function listing for the SQL editor (FunctionsListService.java:66
    served at /sql/functions): every dialect shim appears with
    name/parameters/returnType — CONVERT_FROM and TO_CHAR carry arity —
    and ?builtins=true appends Spark's registry."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def get(path):
        with rq.urlopen(f"http://127.0.0.1:{port}" + path) as r:
            return _json.loads(r.read())

    try:
        out = get("/api/v3/sql/functions")
        fns = {f["name"]: f for f in out["functions"]}
        # rewrite-handled dialect names with arity
        cf = fns["CONVERT_FROM"]
        assert [p["name"] for p in cf["signatures"][0]["parameters"]] \
            == ["expression", "codec"]
        tc = fns["TO_CHAR"]
        assert len(tc["signatures"][0]["parameters"]) == 2
        assert tc["signatures"][0]["returnType"] == "STRING"
        assert fns["NDV"]["signatures"][0]["returnType"] == "BIGINT"
        # SQL shims carry their declared parameter types
        gd = fns["GEO_DISTANCE"]
        sig = gd["signatures"][0]
        assert [p["type"] for p in sig["parameters"]] == ["DOUBLE"] * 4
        assert sig["returnType"] == "DOUBLE" and gd["origin"] == "sql-shim"
        # pandas shims present with signatures
        assert fns["ST_GEOHASH"]["signatures"][0]["parameters"][2] == \
            {"name": "precision", "type": "INT"}
        # codec shim family is covered (CONVERT_FROM_UTF8 etc.)
        assert "CONVERT_FROM_UTF8" in fns and "CONVERT_TO_BASE64" in fns
        # sorted, no dup names, builtins excluded by default
        names = [f["name"] for f in out["functions"]]
        assert names == sorted(names) and len(names) == len(set(names))
        assert "ABS" not in fns
        out2 = get("/api/v3/sql/functions?builtins=true")
        fns2 = {f["name"] for f in out2["functions"]}
        assert "ABS" in fns2 and len(fns2) > len(fns)
    finally:
        server.shutdown()


def test_rest_user_role_crud_and_sql_grants(spark):
    """Principal REST CRUD (dac/api/UserResource.java:77-167,
    UsersResource listing) wired to the SAME stores the GRANT/REVOKE
    layer uses: create a role over REST, GRANT ON an object via SQL,
    and policy enforcement observes the membership."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}" + path,
            data=_json.dumps(body).encode() if body is not None else None,
            headers={"Content-Type": "application/json"}, method=method)
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        # user CRUD with the tag optimistic guard
        code, u = call("POST", "/api/v3/user",
                       {"name": "maria", "firstName": "Maria",
                        "email": "m@corp.io"})
        assert code == 200 and u["id"] == "maria" and u["tag"] == "0"
        code, _ = call("POST", "/api/v3/user", {"name": "maria"})
        assert code == 409
        code, u = call("PUT", "/api/v3/user/maria",
                       {"email": "maria@corp.io", "tag": "0"})
        assert code == 200 and u["tag"] == "1"
        code, _ = call("PUT", "/api/v3/user/maria",
                       {"email": "x", "tag": "0"})
        assert code == 409
        code, got = call("GET", "/api/v3/user/by-name/maria")
        assert got["email"] == "maria@corp.io"
        code, lst = call("GET", "/api/v3/users?filter=mar")
        assert [x["name"] for x in lst["users"]] == ["maria"]

        # role via REST + membership
        code, r = call("POST", "/api/v3/role", {"name": "pii_readers"})
        assert code == 200 and r["members"] == []
        code, r = call("POST", "/api/v3/role/pii_readers/member",
                       {"name": "maria"})
        assert r["members"] == ["maria"]

        # GRANT via SQL; enforcement sees the REST-created membership
        eng.sql("GRANT SELECT ON TABLE customer TO ROLE pii_readers")
        assert eng.check_access("maria", "SELECT", "customer")
        assert not eng.check_access("eve", "SELECT", "customer")
        assert eng.table("customer", user="maria").count() > 0
        import pytest as _pytest
        with _pytest.raises(PermissionError):
            eng.table("customer", user="eve")

        # membership removal closes access
        code, _ = call("DELETE", "/api/v3/role/pii_readers/member/maria")
        assert code == 200
        assert not eng.check_access("maria", "SELECT", "customer")

        # role listing + delete scrubs grants
        code, roles = call("GET", "/api/v3/roles")
        assert "pii_readers" in {r["name"] for r in roles["roles"]}
        code, _ = call("DELETE", "/api/v3/role/pii_readers")
        assert code == 200
        priv = {(r["privilege"], r["grantee"]) for r in
                eng.show_grants("customer").collect()}
        assert ("SELECT", "pii_readers") not in priv
        # deny-all allowlist remains (revoking last grantee keeps gate)
        assert not eng.check_access("anyone", "SELECT", "customer")
        eng._acl.pop("customer", None)  # restore open default

        code, _ = call("DELETE", "/api/v3/user/maria")
        assert code == 200
        code, _ = call("GET", "/api/v3/user/maria")
        assert code == 404
        code, _ = call("DELETE", "/api/v3/role/nope")
        assert code == 404
    finally:
        server.shutdown()


def test_rest_bi_connect_files(spark):
    """BI-tool connect files (TableauResource.java:44 /
    PowerBIResource.java over BaseBIToolResource): GET per dataset
    returns a .tds / .pbids attachment pointing at the Flight endpoint
    — golden-body assertions."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def get(path):
        try:
            with rq.urlopen(f"http://127.0.0.1:{port}" + path) as r:
                return (r.status, r.read(),
                        dict(r.headers))
        except rq.HTTPError as e:
            return e.code, e.read(), {}

    try:
        code, body, hdrs = get("/api/v3/tableau/table/orders?port=32010")
        assert code == 200
        assert hdrs["Content-Disposition"] == \
            'attachment; filename="orders.tds"'
        assert hdrs["Content-Type"] == "application/tds"
        golden_tds = (
            "<?xml version='1.0' encoding='utf-8'?>\n"
            "<datasource inline='true' version='18.1'>\n"
            "  <connection class='genericodbc' dbname='DREMIO'"
            " odbc-dbms-name='Dremio'"
            " odbc-driver='Arrow Flight SQL ODBC Driver'"
            " odbc-dsn='' schema=\"\" port=\"32010\""
            " server=\"127.0.0.1\" username=''>\n"
            "    <relation name=\"orders\" type='table'"
            " table=\"[orders]\" />\n"
            "  </connection>\n"
            "  <aliases enabled='yes' />\n"
            "</datasource>\n")
        assert body.decode() == golden_tds

        # VDS: schema = parent path, object = leaf
        eng.create_space("bi")
        eng.create_vds("bi", "v_orders", "select 1 as x")
        code, body, hdrs = get("/api/v3/powerbi/dataset/bi.v_orders")
        assert code == 200
        assert hdrs["Content-Disposition"] == \
            'attachment; filename="v_orders.pbids"'
        doc = _json.loads(body)
        assert doc == {
            "version": "0.1",
            "connections": [{
                "details": {"protocol": "dremio",
                            "address": {"server": "127.0.0.1:32010",
                                        "schema": "bi",
                                        "object": "v_orders"}},
                "mode": "DirectQuery"}]}
        code, _, _ = get("/api/v3/tableau/table/nope")
        assert code == 404
    finally:
        server.shutdown()


def test_flight_queries_profile_into_telemetry(flight_setup, spark):
    """Flight statements land in the SAME job-telemetry store the REST
    profile route serves: GetFlightInfo records planning, DoGet records
    execution, queryType is FLIGHT, and the profile carries operator
    metrics and phases."""
    from dremio_oss_spark.server.flight import flight_query

    eng, server = flight_setup
    before = {j["id"] for j in
              eng.job_telemetry.listing(limit=1000)["jobs"]}
    tab = flight_query(
        server.port,
        "select n_regionkey, count(*) as n from nation "
        "group by n_regionkey")
    assert tab.num_rows == 5
    jobs = [j for j in eng.job_telemetry.listing(limit=1000)["jobs"]
            if j["id"] not in before and j["queryType"] == "FLIGHT"]
    assert len(jobs) == 1
    j = jobs[0]
    assert j["state"] == "COMPLETED" and j["rowsReturned"] == 5
    prof = eng.job_telemetry.profile(j["id"])
    assert prof["planningTimeMs"] > 0 and prof["executionTimeMs"] > 0
    assert "HashAggregate" in prof["plan"]
    assert any(o["metrics"].get("number of output rows", 0) > 0
               for o in prof["operators"])
    # DoGet runs under the job group flight-job-{id}: the profile
    # carries the statement's stages too
    assert prof["profileStatus"] == "COMPLETE"
    assert sum(p["completedTasks"] for p in prof["phases"]) > 0
    # a failing statement profiles FAILED
    import pyarrow.flight as fl
    import pytest as _pytest
    with _pytest.raises(fl.FlightServerError):
        flight_query(server.port, "select * from flight_no_such")
    failed = [x for x in eng.job_telemetry.listing(
        state="FAILED", limit=1000)["jobs"]
        if "flight_no_such" in x["queryText"]]
    assert failed and failed[0]["queryType"] == "FLIGHT"


def test_rest_sql_autocomplete(spark, tmp_path):
    """SQL-editor autocomplete (SQLResource.java:111 POST
    /sql/autocomplete, AutocompleteProxy.java:60-98): CONTAINER
    suggestions at top level and inside a space, COLUMN suggestions
    with types, REFERENCE suggestions from a versioned source's
    branches/tags."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def post(body):
        req = rq.Request(
            f"http://127.0.0.1:{port}/api/v3/sql/autocomplete",
            data=_json.dumps(body).encode(),
            headers={"Content-Type": "application/json"})
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        # top-level containers by prefix
        code, out = post({"prefix": "line", "type": "CONTAINER",
                          "catalogEntityKeys": [[]]})
        assert code == 200 and out["suggestionsType"] == "CONTAINER"
        assert [s["name"] for s in out["suggestions"]] == ["lineitem"]
        # space context lists its VDS
        eng.create_space("mart")
        eng.create_vds("mart", "daily_rev", "select 1 as x")
        eng.create_vds("mart", "monthly_rev", "select 2 as x")
        code, out = post({"prefix": "d", "type": "CONTAINER",
                          "catalogEntityKeys": [["mart"]]})
        assert [s["name"] for s in out["suggestions"]] == ["daily_rev"]
        assert out["suggestions"][0]["path"] == ["mart", "daily_rev"]
        # column suggestions carry types
        code, out = post({"prefix": "o_order", "type": "COLUMN",
                          "catalogEntityKeys": [["orders"]]})
        names = {s["name"]: s["columnType"] for s in out["suggestions"]}
        assert "o_orderkey" in names and "o_orderdate" in names
        assert names["o_orderkey"] == "bigint"
        assert names["o_orderdate"].startswith(("date", "timestamp"))
        # reference suggestions from a versioned source
        eng.create_versioned_source("acsrc", str(tmp_path / "acsrc"))
        eng.sql("CREATE BRANCH dev IN acsrc")
        eng.sql("CREATE BRANCH feature_x IN acsrc")
        code, out = post({"prefix": "", "type": "REFERENCE",
                          "catalogEntityKeys": [["acsrc"]]})
        assert {s["name"] for s in out["suggestions"]} \
            >= {"main", "dev", "feature_x"}
        assert all(s["type"] == "BRANCH" for s in out["suggestions"])
        # unknown type is an error envelope
        code, _ = post({"prefix": "", "type": "NOPE"})
        assert code == 400
    finally:
        server.shutdown()


def test_review_findings_r11_regressions(spark):
    """Round-11 self-review regressions: (1) a CREATE USER DDL
    principal updates over REST without a KeyError; (5) removing a
    non-member/nonexistent role membership is 404, not silent success;
    (6) jobDetails resolves with a query string; (7) the telemetry
    store stays bounded even when jobs never complete."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.plans.telemetry import JobTelemetryStore
    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}" + path,
            data=_json.dumps(body).encode() if body is not None else None,
            headers={"Content-Type": "application/json"}, method=method)
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        # (1) DDL-created user has no explicit tag — PUT must work
        eng.sql("CREATE USER ddl_made")
        code, u = call("PUT", "/api/v3/user/ddl_made",
                       {"email": "d@x.io"})
        assert code == 200 and u["email"] == "d@x.io" and u["tag"] == "1"

        # (5) non-member removal refuses
        call("POST", "/api/v3/role", {"name": "r11_role"})
        code, _ = call("DELETE", "/api/v3/role/r11_role/member/nobody")
        assert code == 404
        code, _ = call("DELETE", "/api/v3/role/ghost_role/member/x")
        assert code == 404

        # (6) jobDetails with a query string still resolves
        code, out = call("POST", "/api/v3/sql",
                         {"sql": "select 1 as one"})
        jid = out["id"]
        code, det = call("GET",
                         f"/api/v3/jobs-listing/{jid}/jobDetails?x=1")
        assert code == 200 and det["id"] == jid

        # (7) abandoned RUNNING jobs cannot grow the store unboundedly
        s = JobTelemetryStore(spark, cap=4)
        for i in range(50):
            s.start(f"zombie{i}", "select 1",
                    job_group=f"lib-job-zombie{i}")
        assert len(s._jobs) <= 16  # hard bound at 4x cap
    finally:
        eng._drop_principal("ddl_made")
        eng._drop_principal("r11_role")
        server.shutdown()


def test_rest_reflection_recommendations_roundtrip(spark):
    """POST /dataset/{id}/reflection/recommendation[/{type}]
    (DatasetResource.java:82-89): AGG candidates from the recorded
    workload, the RAW candidate from the schema — and the AGG body
    POSTs straight back to /reflection to create it (the full
    recommend -> create loop)."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}" + path,
            data=_json.dumps(body if body is not None else {}).encode(),
            headers={"Content-Type": "application/json"}, method=method)
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        # record a workload of unaccelerated aggregates
        eng.sql("select o_orderstatus, sum(o_totalprice) as s "
                "from orders group by o_orderstatus").collect()
        eng.sql("select o_orderpriority, count(*) as c "
                "from orders group by o_orderpriority").collect()

        code, out = call(
            "POST", "/api/v3/dataset/table/orders/"
                    "reflection/recommendation/AGG")
        assert code == 200 and len(out["data"]) == 1
        agg = out["data"][0]
        assert agg["type"] == "AGGREGATION"
        dims = {d["name"] for d in agg["dimensionFields"]}
        assert dims == {"o_orderstatus", "o_orderpriority"}
        meas = {m["name"]: m["measureTypeList"]
                for m in agg["measureFields"]}
        assert "o_totalprice" in meas and "SUM" in meas["o_totalprice"]

        # RAW: all display fields
        code, out = call(
            "POST", "/api/v3/dataset/table/orders/"
                    "reflection/recommendation/RAW")
        raw = out["data"][0]
        assert raw["type"] == "RAW"
        assert {f["name"] for f in raw["displayFields"]} \
            >= {"o_orderkey", "o_orderstatus", "o_totalprice"}

        # ALL = both; bad type is a 400; unknown dataset 404
        code, out = call("POST", "/api/v3/dataset/table/orders/"
                                 "reflection/recommendation")
        assert {r["type"] for r in out["data"]} == {"AGGREGATION", "RAW"}
        code, _ = call("POST", "/api/v3/dataset/table/orders/"
                               "reflection/recommendation/NOPE")
        assert code == 400
        code, _ = call("POST", "/api/v3/dataset/table/ghost/"
                               "reflection/recommendation")
        assert code == 404

        # the loop closes: POST the AGG body to /reflection, query
        # accelerates
        code, created = call("POST", "/api/v3/reflection", agg)
        assert code == 200, created
        eng.sql("select 1").collect()  # bust the plan cache
        eng.sql("select o_orderstatus, sum(o_totalprice) as s "
                "from orders group by o_orderstatus").collect()
        assert eng.last_plan_accelerated == agg["name"]
    finally:
        store = getattr(eng, "_refl_store", None)
        if store is not None and "refl_suggested_orders" in getattr(
                store, "_reflections", {}):
            store.drop("refl_suggested_orders")
        server.shutdown()


def test_rest_stats_endpoints(spark):
    """Stats dashboards over the telemetry store: /cluster/jobstats
    (DailyJobStatsResource.java:88 — per-day totals by query type),
    /stats/jobsandusers (JobAndUserStatsResource.java:57 — adds unique
    users), /cluster/stats (ClusterStatsResource.java:97 — catalog +
    job totals)."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}" + path,
            data=(_json.dumps(body).encode()
                  if body is not None else None),
            headers={"Content-Type": "application/json"}, method=method)
        with rq.urlopen(req) as r:
            return r.status, _json.loads(r.read())

    try:
        call("POST", "/api/v3/sql", {"sql": "select 1 as a"})
        call("POST", "/api/v3/sql", {"sql": "select 2 as b"})
        df, jid = eng.profiled_sql("select 3 as c", user="dash_user")
        eng.finish_job(jid, df=df, row_count=1)

        code, out = call("GET", "/api/v3/cluster/jobstats")
        assert code == 200 and out["edition"] == "spark-oss"
        # sum across day buckets — the test may straddle UTC midnight
        assert 1 <= len(out["jobStats"]) <= 2
        tot = sum(d["total"] for d in out["jobStats"])
        rest = sum(d.get("REST", 0) for d in out["jobStats"])
        lib = sum(d.get("LIBRARY", 0) for d in out["jobStats"])
        assert tot >= 3 and rest >= 2 and lib >= 1

        # window that excludes everything
        code, out = call("GET",
                         "/api/v3/cluster/jobstats?start=1&end=2")
        assert out["jobStats"] == []

        code, out = call("GET", "/api/v3/stats/jobsandusers")
        assert max(d["totalUniqueUsers"] for d in out["stats"]) >= 1
        users_seen = sum(d["totalUniqueUsers"] for d in out["stats"])
        assert users_seen >= 2  # $dremio$ + dash_user (any bucketing)

        eng.create_space("statsp")
        eng.create_vds("statsp", "v1", "select 1 as x")
        code, out = call("GET", "/api/v3/cluster/stats")
        assert out["datasets"]["vds"] >= 1
        assert out["datasets"]["tables"] > 0
        assert out["jobs"]["tracked"] >= 3
    finally:
        server.shutdown()


def test_rest_source_crud_and_named_source_sql(spark, tmp_path):
    """Source REST CRUD (dac/api SourceResource shape) + the
    FileSystemPlugin namespace: attach a NAS source over REST, query
    `<source>.<table>` through SQL, browse its tables, detach; a
    NESSIE source attaches to the dataplane with branch listing."""
    import json as _json
    import os as _os
    import urllib.request as rq

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.server.rest import serve_rest_background

    from .conftest import SF_SMALL

    eng = Engine(spark)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(
            f"http://127.0.0.1:{port}" + path,
            data=(_json.dumps(body).encode()
                  if body is not None else None),
            headers={"Content-Type": "application/json"}, method=method)
        try:
            with rq.urlopen(req) as r:
                return r.status, _json.loads(r.read())
        except rq.HTTPError as e:
            return e.code, _json.loads(e.read())

    try:
        code, src = call("POST", "/api/v3/source",
                         {"name": "nas1", "type": "NAS",
                          "config": {"path": SF_SMALL}})
        assert code == 200 and src["type"] == "NAS"
        # duplicate refuses; bad path refuses
        code, _ = call("POST", "/api/v3/source",
                       {"name": "nas1", "config": {"path": SF_SMALL}})
        assert code == 409
        code, _ = call("POST", "/api/v3/source",
                       {"name": "nope", "config": {"path": "/no/dir"}})
        assert code == 400

        # named-source SQL resolution: <source>.<table> reads the file
        n = eng.sql("select count(*) as n from nas1.nation").first()["n"]
        assert n == 25
        # join across the same source
        got = eng.sql(
            "select r.r_name, count(*) as c from nas1.nation n "
            "join nas1.region r on n.n_regionkey = r.r_regionkey "
            "group by r.r_name order by r.r_name").collect()
        assert len(got) == 5 and all(r["c"] == 5 for r in got)
        # unknown table under the source: the token falls through to
        # Spark (it may be an alias/column qualifier), which errors
        import pytest as _pytest
        with _pytest.raises(Exception,
                            match="TABLE_OR_VIEW_NOT_FOUND|not found"):
            eng.sql("select * from nas1.ghost_table").collect()
        # an alias that shadows the source name keeps working
        assert eng.sql("select nas1.r_name from nas1.region nas1 "
                       "order by nas1.r_name limit 1"
                       ).first()["r_name"] == "AFRICA"

        # browse
        code, det = call("GET", "/api/v3/source/nas1")
        assert "nation" in det["tables"] and "lineitem" in det["tables"]

        # NESSIE source type attaches the dataplane
        code, _ = call("POST", "/api/v3/source",
                       {"name": "dpl1", "type": "NESSIE",
                        "config": {"path": str(tmp_path / "dpl1")}})
        assert code == 200
        eng.sql("CREATE BRANCH dev IN dpl1")
        code, det = call("GET", "/api/v3/source/dpl1")
        assert set(det["branches"]) >= {"main", "dev"}

        code, lst = call("GET", "/api/v3/source")
        assert {s["name"] for s in lst["data"]} >= {"nas1", "dpl1"}

        code, _ = call("DELETE", "/api/v3/source/nas1")
        assert code == 200
        code, _ = call("GET", "/api/v3/source/nas1")
        assert code == 404
        code, _ = call("DELETE", "/api/v3/source/ghost")
        assert code == 404
        assert _os.path.isdir(str(tmp_path / "dpl1"))  # detach keeps data
    finally:
        server.shutdown()
