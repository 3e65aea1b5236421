"""Arrow Flight SQL endpoint: run engine SQL over the wire, stream the
result as Arrow record batches.

Reference: dremio-oss serves queries over Arrow Flight
(`services/arrow-flight/.../DremioFlightProducer.java:89`,
`getStreamStatement:393`): the client's statement rides in the flight
descriptor/ticket, the server plans it through the normal query path and
streams Arrow batches back.  This is the same shape on pyarrow.flight
over `Engine.sql` — every dialect rewrite, policy, and reflection the
library surface applies holds for network clients too, because the
server IS the library surface.

Scope: the read path (GetFlightInfo + DoGet), PREPARED STATEMENTS with
parameter binding (CreatePreparedStatement / DoPut(parameters) / DoGet,
the flow `DremioFlightProducer.java` serves FlightSQL clients), and a
health action, with optional bearer-token auth.

The server speaks BOTH envelopes: the real FlightSQL protobuf protocol
(CommandStatementQuery / CommandPreparedStatementQuery /
TicketStatementQuery / ActionCreatePreparedStatement* packed in
google.protobuf.Any — see `flightsql_codec.py`; pyarrow ships no
FlightSQL bindings, so the handful of one-field messages are
wire-coded by hand and pinned to golden byte vectors in tests), and a
generic plain-SQL descriptor fallback for pyarrow-only clients.  A
stock FlightSQL client (ADBC / the FlightSQL JDBC driver) negotiates
the protobuf path; `flight_query` below uses the generic one.

Scale note: results materialize driver-side as one Arrow table per
request (`DataFrame.toArrow`), so the endpoint is for RESULT-SET-sized
reads — exactly the reference's coordinator-side Screen/result-fetch
role, not a bulk-export path.  Bulk egress belongs to `df.write`.
"""

from __future__ import annotations

import threading

import pyarrow as pa
import pyarrow.flight as flight

from .. import sqltext
from ..plans.telemetry import clear_job_group


class _BearerMiddleware(flight.ServerMiddleware):
    def __init__(self):
        pass


class _BearerMiddlewareFactory(flight.ServerMiddlewareFactory):
    """Reject calls lacking the configured bearer token (the reference
    gates Flight behind the same auth as JDBC/REST).  When a session
    TokenManager is attached, REST-login session tokens authenticate
    too — the reference's login flow issues one token both servers
    honor (LogInLogOutResource.java:92 → TokenManager)."""

    def __init__(self, token: str, tokens=None):
        self._token = token
        self._tokens = tokens

    def start_call(self, info, headers):
        vals = (headers.get("authorization")
                or headers.get("Authorization") or [])
        if isinstance(vals, (str, bytes)):
            vals = [vals]
        want = f"Bearer {self._token}"
        # EXACT match — substring checks would accept any token that
        # merely contains the real one
        for v in vals:
            s = v.decode() if isinstance(v, bytes) else v
            if s == want:
                return _BearerMiddleware()
            if (self._tokens is not None and s.startswith("Bearer ")
                    and self._tokens.user_of(s[7:]) is not None):
                return _BearerMiddleware()
        raise flight.FlightUnauthenticatedError("missing/bad token")


# catalog-metadata commands a stock FlightSQL client issues on connect
# (DremioFlightProducer.java:567-584,814 routing)
_METADATA_COMMANDS = frozenset({
    "CommandGetCatalogs", "CommandGetDbSchemas", "CommandGetTables",
    "CommandGetTableTypes", "CommandGetSqlInfo",
    "CommandGetXdbcTypeInfo",
})
# FK metadata: the reference returns the protocol schema with ZERO
# endpoints and raises UNIMPLEMENTED on the stream (no PK/FK
# constraints tracked — DremioFlightProducer.java:621-661)
_KEYS_COMMANDS = frozenset({
    "CommandGetPrimaryKeys", "CommandGetExportedKeys",
    "CommandGetImportedKeys",
})


class EngineFlightServer(flight.FlightServerBase):
    """`grpc://host:port` front of an Engine.  Tickets carry SQL text."""

    def __init__(self, engine, location: str = "grpc://127.0.0.1:0",
                 token: str | None = None, tokens=None):
        middleware = {}
        if token:
            middleware["auth"] = _BearerMiddlewareFactory(
                token, tokens=tokens)
        super().__init__(location, middleware=middleware)
        self.engine = engine
        self._location = location
        # engine state (shim registration, policy views, acceleration
        # markers) is not thread-safe; serialize engine interactions
        self._lock = threading.Lock()
        # GetFlightInfo -> DoGet must execute a statement ONCE: each
        # GetFlightInfo issues a UNIQUE opaque ticket (uuid) and caches
        # the planned frame under it — keying by statement text would
        # let two clients running the same SQL overwrite each other,
        # re-running engine.sql (and re-applying DML) on the loser's
        # DoGet (bounded FIFO)
        self._planned: dict[bytes, object] = {}
        # prepared statements: opaque handle -> {"sql", "params"}
        # (CreatePreparedStatement / DoPut(parameters) / execute via
        # GetFlightInfo(handle), the DremioFlightProducer.java flow)
        self._prepared: dict[bytes, dict] = {}

    # -- read path ---------------------------------------------------------
    def _run(self, sql: str):
        try:
            return self.engine.sql(sql)
        except Exception as e:  # surface planner errors as Flight errors
            raise flight.FlightServerError(
                f"{type(e).__name__}: {e}") from e

    # -- prepared statements ----------------------------------------------
    @staticmethod
    def _render_param(v) -> str:
        """One bound parameter as a SQL literal — values only, never
        identifiers, with quotes and backslashes escaped."""
        import datetime as _dt

        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, (int, float)):
            return repr(v)
        if isinstance(v, _dt.datetime):
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        if isinstance(v, _dt.date):
            return f"DATE '{v.isoformat()}'"
        s = str(v).replace("\\", "\\\\").replace("'", "''")
        return f"'{s}'"

    @classmethod
    def _bind(cls, sql: str, params: list) -> str:
        """Substitute positional `?` placeholders in the statement's
        code — never inside a literal, a quoted identifier or a
        comment."""
        holes = [i for kind, a, b in sqltext.spans(sql)
                 if kind == sqltext.CODE
                 for i in range(a, b) if sql[i] == "?"]
        if len(holes) != len(params):
            raise flight.FlightServerError(
                f"{len(params)} parameters bound to {len(holes)} "
                "placeholders in the statement")
        out, pos = [], 0
        for i, v in zip(holes, params):
            out += [sql[pos:i], cls._render_param(v)]
            pos = i + 1
        return "".join(out) + sql[pos:]

    def do_put(self, context, descriptor, reader, writer):
        """Parameter upload for a prepared statement: the descriptor
        carries the handle, the stream carries ONE record batch whose
        row binds the positional parameters (FlightSQL
        DoPutPreparedStatementQuery shape)."""
        from . import flightsql_codec as fsql

        cmd = descriptor.command
        env = fsql.any_unpack(cmd)
        if (env is not None
                and env[0] == "CommandPreparedStatementQuery"):
            cmd = fsql.bytes_field(env[1])
        with self._lock:
            st = self._prepared.get(cmd)
        if st is None:
            raise flight.FlightServerError(
                "DoPut without a prepared-statement handle")
        table = reader.read_all()
        if table.num_rows != 1:
            raise flight.FlightServerError(
                "parameter batch must have exactly one row")
        with self._lock:
            st["params"] = [c[0].as_py() for c in table.columns]

    def get_flight_info(self, context, descriptor):
        import uuid

        from . import flightsql_codec as fsql

        # FlightSQL protobuf envelope first (CommandStatementQuery /
        # CommandPreparedStatementQuery packed in Any — the protocol a
        # stock FlightSQL client speaks, DremioFlightProducer.java:89);
        # anything else falls back to the generic plain-SQL descriptor
        env = fsql.any_unpack(descriptor.command)
        flightsql = env is not None
        if flightsql:
            name, payload = env
            if name in _KEYS_COMMANDS:
                from . import flightsql_metadata as meta

                schema = (meta.GET_PRIMARY_KEYS_SCHEMA
                          if name == "CommandGetPrimaryKeys"
                          else meta.GET_KEYS_SCHEMA)
                return flight.FlightInfo(schema, descriptor, [], -1, -1)
            if name in _METADATA_COMMANDS:
                # catalog-metadata command (the connect-time burst of a
                # stock ADBC/JDBC client): FlightInfo carries the fixed
                # protocol schema and the ticket is the packed command
                # itself, recomputed at DoGet — idempotent metadata
                # needs no planned-frame cache
                # (DremioFlightProducer.getFlightInfoForFlightSqlCommands)
                schema = self._metadata_schema(name, payload)
                endpoint = flight.FlightEndpoint(
                    flight.Ticket(descriptor.command),
                    [flight.Location.for_grpc_tcp("127.0.0.1",
                                                  self.port)])
                return flight.FlightInfo(schema, descriptor, [endpoint],
                                         -1, -1)
            if name == "CommandStatementQuery":
                sql = fsql.str_field(payload)
            elif name == "CommandPreparedStatementQuery":
                handle = fsql.bytes_field(payload)
                with self._lock:
                    st = self._prepared.get(handle)
                if st is None:
                    raise flight.FlightServerError(
                        "unknown prepared-statement handle")
                sql = self._bind(st["sql"], st["params"] or [])
            else:
                raise flight.FlightServerError(
                    f"unsupported FlightSQL command {name}")
        else:
            with self._lock:
                st = self._prepared.get(descriptor.command)
            if st is not None:
                sql = self._bind(st["sql"], st["params"] or [])
            else:
                sql = descriptor.command.decode()
        import time as _time

        ticket = f"q:{uuid.uuid4().hex}".encode()
        # per-job telemetry rides the opaque ticket id (profiles show
        # up in sys.jobs / GET /job/{id}/profile with queryType FLIGHT)
        jid = ticket.decode()[2:18]
        tel = self.engine.job_telemetry
        tel.start(jid, sql, query_type="FLIGHT",
                  job_group=f"flight-job-{jid}")
        with self._lock:
            t_plan = _time.perf_counter()
            try:
                df = self._run(sql)
            except Exception as e:  # noqa: BLE001 — profile + re-raise
                tel.complete(jid, state="FAILED", error=str(e))
                raise
            tel.planned(jid, (_time.perf_counter() - t_plan) * 1000,
                        accelerated_by=getattr(
                            self.engine, "last_plan_accelerated", None),
                        considered=getattr(
                            self.engine, "last_plan_considered", None))
            # cache the PLANNED frame under a fresh opaque ticket so
            # DoGet streams this statement's result instead of running
            # engine.sql again (DML executes eagerly inside sql() — a
            # second call would apply it twice)
            self._planned[ticket] = (df, jid)
            while len(self._planned) > 32:  # bounded: drop oldest
                _, djid = self._planned.pop(next(iter(self._planned)))
                tel.complete(djid, state="CANCELED",
                             error="ticket expired unredeemed")
            schema = df.limit(0).toArrow().schema
        # FlightSQL tickets carry an Any-packed TicketStatementQuery
        # whose statement_handle is our opaque ticket (the redeem key
        # stays the inner handle, so generic and FlightSQL paths share
        # the planned-frame cache)
        wire_ticket = (fsql.ticket_statement_query(ticket)
                       if flightsql else ticket)
        endpoint = flight.FlightEndpoint(
            flight.Ticket(wire_ticket),
            [flight.Location.for_grpc_tcp("127.0.0.1", self.port)])
        return flight.FlightInfo(schema, descriptor, [endpoint], -1, -1)

    def _metadata_schema(self, name: str, payload: bytes):
        from . import flightsql_codec as fsql
        from . import flightsql_metadata as meta

        if name == "CommandGetCatalogs":
            return meta.GET_CATALOGS_SCHEMA
        if name == "CommandGetDbSchemas":
            return meta.GET_DB_SCHEMAS_SCHEMA
        if name == "CommandGetTableTypes":
            return meta.GET_TABLE_TYPES_SCHEMA
        if name == "CommandGetSqlInfo":
            return meta.GET_SQL_INFO_SCHEMA
        if name == "CommandGetXdbcTypeInfo":
            return meta.GET_TYPE_INFO_SCHEMA
        req = fsql.parse_get_tables(payload)
        return (meta.GET_TABLES_SCHEMA if req["include_schema"]
                else meta.GET_TABLES_SCHEMA_NO_SCHEMA)

    def _metadata_table(self, name: str, payload: bytes):
        from . import flightsql_codec as fsql
        from . import flightsql_metadata as meta

        if name == "CommandGetCatalogs":
            return meta.get_catalogs_table(self.engine)
        if name == "CommandGetTableTypes":
            return meta.get_table_types_table(self.engine)
        if name == "CommandGetSqlInfo":
            return meta.get_sql_info_table(
                self.engine, fsql.parse_sql_info_ids(payload))
        if name == "CommandGetXdbcTypeInfo":
            f = fsql.parse_fields(payload)
            dt = f.get(1, [None])[0]
            return meta.get_type_info_table(self.engine, dt)
        if name == "CommandGetDbSchemas":
            return meta.get_db_schemas_table(
                self.engine, **fsql.parse_get_db_schemas(payload))
        return meta.get_tables_table(
            self.engine, **fsql.parse_get_tables(payload))

    def do_get(self, context, ticket):
        from . import flightsql_codec as fsql

        raw = ticket.ticket
        env = fsql.any_unpack(raw)
        if env is not None and env[0] in _KEYS_COMMANDS:
            raise flight.FlightServerError(
                f"{env[0]} not supported.")  # reference UNIMPLEMENTED
        if env is not None and env[0] in _METADATA_COMMANDS:
            # metadata tickets carry the packed command itself; the
            # answer is recomputed from the live catalog (engine state
            # reads serialize like statement planning)
            with self._lock:
                table = self._metadata_table(*env)
            return flight.RecordBatchStream(table)
        if env is not None and env[0] == "TicketStatementQuery":
            raw = fsql.bytes_field(env[1])
        import time as _time
        import uuid as _uuid

        ticket = flight.Ticket(raw)
        tel = self.engine.job_telemetry
        with self._lock:
            entry = self._planned.pop(ticket.ticket, None)
            if entry is None:
                if ticket.ticket.startswith(b"q:"):
                    # an issued ticket must redeem EXACTLY once — running
                    # the (unknown) statement again is not an option
                    raise flight.FlightServerError(
                        "ticket already redeemed or expired")
                # direct DoGet with plain SQL: a read-only convenience
                sql = ticket.ticket.decode()
                jid = _uuid.uuid4().hex[:16]
                tel.start(jid, sql, query_type="FLIGHT",
                          job_group=f"flight-job-{jid}")
                t_plan = _time.perf_counter()
                try:
                    df = self._run(sql)
                except Exception as e:  # noqa: BLE001
                    tel.complete(jid, state="FAILED", error=str(e))
                    raise
                tel.planned(jid, (_time.perf_counter() - t_plan) * 1000,
                            accelerated_by=getattr(
                                self.engine, "last_plan_accelerated",
                                None),
                            considered=getattr(
                                self.engine, "last_plan_considered",
                                None))
            else:
                df, jid = entry
        # materialization runs OUTSIDE the engine lock: the frame is
        # already analyzed, so concurrent DoGets interleave at the
        # Spark scheduler (reference: concurrent jobs execution,
        # ForemenWorkManager.java:715); only statement planning — and
        # thereby every mutating commit — serializes
        # cost-based WLM admission around the materialization, like the
        # REST paths (BasicResourceAllocator.java:155)
        wm = self.engine._workload()
        try:
            qname = wm.classify(df)
        except Exception:  # noqa: BLE001 — command frames lack stats
            qname = "SMALL"
        tel.set_queue(jid, qname)
        # the job group the profile is read through (and a cancel
        # would reach), like the REST worker's rest-job-{id}
        sc = self.engine.spark.sparkContext
        sc.setJobGroup(f"flight-job-{jid}", f"Flight job {jid}", True)
        t_exec = _time.perf_counter()
        try:
            with wm.admit_to(qname):
                table = df.toArrow()
        except Exception as e:  # noqa: BLE001 — execution failure
            tel.complete(jid, state="FAILED", error=str(e))
            raise
        finally:
            clear_job_group(sc)
        tel.complete(jid, state="COMPLETED",
                     execution_ms=(_time.perf_counter() - t_exec) * 1000,
                     row_count=table.num_rows)
        return flight.RecordBatchStream(table)

    def list_actions(self, context):
        return [("ping", "health check"),
                ("version", "engine + spark version"),
                ("CreatePreparedStatement",
                 "body: SQL with ? placeholders -> handle"),
                ("ClosePreparedStatement", "body: handle")]

    def do_action(self, context, action):
        import uuid

        if action.type == "ping":
            return [b"pong"]
        if action.type == "version":
            return [self.engine.spark.version.encode()]
        if action.type == "CreatePreparedStatement":
            from . import flightsql_codec as fsql

            body = action.body.to_pybytes()
            env = fsql.any_unpack(body)
            sql = (fsql.str_field(env[1])
                   if env is not None
                   and env[0] == "ActionCreatePreparedStatementRequest"
                   else body.decode())
            handle = f"ps:{uuid.uuid4().hex}".encode()
            with self._lock:
                self._prepared[handle] = {"sql": sql, "params": None}
                while len(self._prepared) > 64:  # bounded
                    self._prepared.pop(next(iter(self._prepared)))
            # FlightSQL callers get the protobuf result envelope back;
            # generic callers get the raw handle (documented fallback)
            if env is not None:
                return [fsql.action_create_prepared_result(handle)]
            return [handle]
        if action.type == "ClosePreparedStatement":
            from . import flightsql_codec as fsql

            body = action.body.to_pybytes()
            env = fsql.any_unpack(body)
            if (env is not None
                    and env[0] == "ActionClosePreparedStatementRequest"):
                body = fsql.bytes_field(env[1])
            with self._lock:
                self._prepared.pop(body, None)
            return [b"ok"]
        raise flight.FlightServerError(f"unknown action {action.type!r}")


def serve_background(engine, token: str | None = None, tokens=None
                     ) -> tuple[EngineFlightServer, threading.Thread]:
    """Start the server on an ephemeral port; returns (server, thread).
    `server.port` is the bound port; `server.shutdown()` stops it.
    `tokens` (a dac_rest.TokenManager) lets REST-login session tokens
    authenticate Flight calls too."""
    server = EngineFlightServer(engine, token=token, tokens=tokens)
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    return server, t


def flight_prepared_query(port: int, sql: str, params: list,
                          token: str | None = None) -> pa.Table:
    """Client helper for the prepared-statement flow:
    CreatePreparedStatement -> DoPut(parameter batch) ->
    GetFlightInfo(handle) -> DoGet."""
    opts = None
    if token:
        opts = flight.FlightCallOptions(
            headers=[(b"authorization", f"Bearer {token}".encode())])
    client = flight.connect(f"grpc://127.0.0.1:{port}")
    try:
        res = list(client.do_action(
            flight.Action("CreatePreparedStatement", sql.encode()), opts))
        handle = res[0].body.to_pybytes()
        desc = flight.FlightDescriptor.for_command(handle)
        if params:  # zero-param statements skip the parameter upload
            batch = pa.table({f"p{i}": [v] for i, v in enumerate(params)})
            w, _ = client.do_put(desc, batch.schema, opts)
            w.write_table(batch)
            w.close()
        info = client.get_flight_info(desc, opts)
        out = client.do_get(info.endpoints[0].ticket, opts).read_all()
        client.do_action(
            flight.Action("ClosePreparedStatement", handle), opts)
        return out
    finally:
        client.close()


def flight_metadata(port: int, command: bytes,
                    token: str | None = None) -> pa.Table:
    """Client helper for the catalog-metadata commands: build the
    Any-packed command with the `flightsql_codec` constructors
    (command_get_tables / _catalogs / _db_schemas / _table_types /
    _sql_info), GetFlightInfo -> DoGet — exactly the connect-time flow
    of a stock ADBC/JDBC FlightSQL client."""
    opts = None
    if token:
        opts = flight.FlightCallOptions(
            headers=[(b"authorization", f"Bearer {token}".encode())])
    client = flight.connect(f"grpc://127.0.0.1:{port}")
    try:
        desc = flight.FlightDescriptor.for_command(command)
        info = client.get_flight_info(desc, opts)
        return client.do_get(info.endpoints[0].ticket, opts).read_all()
    finally:
        client.close()


def flight_query(port: int, sql: str,
                 token: str | None = None) -> pa.Table:
    """Client helper: run `sql` against a local endpoint, return the
    Arrow table (GetFlightInfo → DoGet, the standard two-step)."""
    opts = None
    if token:
        opts = flight.FlightCallOptions(
            headers=[(b"authorization", f"Bearer {token}".encode())])
    client = flight.connect(f"grpc://127.0.0.1:{port}")
    try:
        desc = flight.FlightDescriptor.for_command(sql.encode())
        info = client.get_flight_info(desc, opts)
        reader = client.do_get(info.endpoints[0].ticket, opts)
        return reader.read_all()
    finally:
        client.close()
