"""Engine facade: the user-facing surface a reference user would switch to.

Ties together session, catalog (sources/spaces/VDS), function shims,
reflections, and the SQL entry point:

- spaces / folders / VDS: the reference's semantic layer
  (`services/namespace/src/main/proto/space.proto`, `dataset.proto:60`
  VirtualDataset = stored SQL + field list) as a namespace tree of views;
- INFORMATION_SCHEMA + sys.* tables
  (`exec/store/ischema/InfoSchemaStoragePlugin.java`,
  `exec/store/sys/SystemTable.java`) as DataFrame-producing views;
- `sql()` with a small dialect-translation pass for Dremio-isms that
  Spark SQL lacks (`NDV(x)` -> approx_count_distinct; the rest of the
  function surface is registered natively by functions.shims).

Query lifecycle (SURVEY.md §3.4): sql() -> dialect pass -> Catalyst
(parse/analyze/optimize/AQE) -> result DataFrame.  Everything from parse
to execution is Spark; this facade only owns the catalog + surface.
"""

from __future__ import annotations

import os
import re
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sqltext
from .catalog import forget_loads, register_testdata
from .functions.shims import register_all
from .session import build_spark
from .sources.lake_dml import codec_of

_DIALECT_REWRITES: list[tuple[str, str]] = [
    # NDV(expr) -> approx_count_distinct(expr)   (DremioSqlOperatorTable.java:76)
    (r"\bNDV\s*\(", "approx_count_distinct("),
    # MEDIAN(expr) -> median(expr) exists in Spark 4; keep for older dialects
    (r"\bTDIGEST_QUANTILE\s*\(", "percentile_approx("),
    # FLATTEN(list_col) -> explode(...)          (SqlFlattenOperator.java)
    (r"\bFLATTEN\s*\(", "explode("),
    # HLL sketch family (HyperLogLog.java HLL/HLL_MERGE/HLL_DECODE) ->
    # Spark's datasketches HLL aggregates (sketch wire formats differ;
    # estimate semantics match)
    (r"\bHLL_MERGE\s*\(", "hll_union_agg("),
    (r"\bHLL_DECODE\s*\(", "hll_sketch_estimate("),
    (r"\bHLL\s*\(", "hll_sketch_agg("),
    # CONVERT_TOJSON / TOSIMPLEJSON / TOCOMPACTJSON / TOEXTENDEDJSON
    # operator names all render via to_json
    (r"\bCONVERT_TO(?:SIMPLE|COMPACT|EXTENDED)?JSON\s*\(", "to_json("),
]

_CONVERT_CODECS = {
    "UTF8", "BASE64", "INT", "INT_BE", "INT_HADOOPV",
    "BIGINT", "BIGINT_BE", "BIGINT_HADOOPV", "BOOLEAN_BYTE",
    "DATE_EPOCH", "DATE_EPOCH_BE", "TIME_EPOCH", "TIME_EPOCH_BE",
    "TIMESTAMP_EPOCH", "TIMESTAMP_EPOCH_BE", "DOUBLE", "DOUBLE_BE",
    "FLOAT", "FLOAT_BE", "TIMESTAMP_IMPALA",
    "TIMESTAMP_IMPALA_LOCALTIMEZONE",
}
# CONVERT_TO JSON renderings all map onto Spark's to_json
_JSON_TO_CODECS = {"JSON", "SIMPLEJSON", "COMPACTJSON", "EXTENDEDJSON"}


def _dialect(query: str) -> str:
    """Dremio function names Spark lacks -> Spark's, outside literals."""
    for pat, rep in _DIALECT_REWRITES:
        query = sqltext.sub(pat, rep, query, re.I)
    return query


def _rewrite_convert(query: str) -> str:
    """CONVERT_FROM/TO(x, '<codec>') -> the matching shim call
    (exec/expr/fn/impl/conv/).  Paren-balanced over the masked text and
    recursive — regex can't handle nested CONVERT calls."""
    masked = sqltext.mask(query)
    m = re.search(r"\bCONVERT_(FROM|TO)\s*\(", masked, re.I)
    if not m:
        return query
    depth = 0
    for p in re.finditer(r"[()]", masked[m.end() - 1:]):
        depth += 1 if p.group() == "(" else -1
        if depth == 0:
            break
    else:
        return query  # unbalanced: let Spark produce the parse error
    close_i = m.end() - 1 + p.start()
    args = sqltext.split_top_level(query[m.end():close_i])
    codec = args[-1].strip().strip("'").upper() if len(args) >= 2 else ""
    if codec in _JSON_TO_CODECS and m.group(1).upper() == "TO":
        name = "to_json"
    elif codec in _CONVERT_CODECS:
        name = f"convert_{m.group(1).lower()}_{codec.lower()}"
    else:
        raise ValueError(
            f"CONVERT_{m.group(1).upper()} codec {codec!r} not supported in "
            f"SQL (known: {sorted(_CONVERT_CODECS)}; JSON goes through "
            "convert_from_json with plan-time schema discovery)"
        )
    rewritten_arg = _rewrite_convert(",".join(args[:-1]))
    return (
        query[:m.start()]
        + f"{name}({rewritten_arg})"
        + _rewrite_convert(query[close_i + 1:])
    )


class ConcurrentModificationError(RuntimeError):
    """Optimistic-concurrency version (`tag`) mismatch on a principal
    update — the reference's ConcurrentModificationException surface."""


class Space:
    """A namespace node holding virtual datasets (views)."""

    def __init__(self, engine: "Engine", name: str):
        self.engine = engine
        self.name = name
        self.vds: dict[str, str] = {}
        self.folders: set[str] = set()  # dotted paths under this space


class Engine:
    def _local_df(self, rows, schema) -> DataFrame:
        """Arrow-backed local frame for driver-held metadata rows —
        same rows/schema as `spark.createDataFrame(rows, schema)` but
        every action on it runs JVM-side with no Python workers and no
        take-escalation ramp (see localframe.meta_df: a one-row
        `.first()` measured 0.77 s -> 0.04 s).  sys.* tables and
        command results are built this way; data paths never are."""
        from .localframe import meta_df

        return meta_df(self.spark, rows, schema)

    def __init__(self, spark: SparkSession | None = None,
                 register_functions: bool = False):
        self.spark = spark or build_spark()
        # shim registration is ~30 sequential DDL round-trips (~3 s on a
        # fresh session); defer it until a query actually references a
        # shim so catalog-only statements stay cheap
        if register_functions:
            register_all(self.spark)
        self.spaces: dict[str, Space] = {}
        self._sources: dict[str, str] = {}
        self._current_space: str | None = None  # USE <space> context
        # tabular SQL UDFs: name -> (params, sql template), expanded
        # inline at plan time (DremioTabularUserDefinedFunction.java,
        # TabularUserDefinedFunctionExpanderRule.java)
        self._tabular: dict[str, tuple[list[str], str]] = {}
        # object -> privilege -> grantees (reference GRANT/REVOKE surface,
        # Parser.tdd; enforcement model only — no external IdP here)
        self._acl: dict[str, dict[str, set[str]]] = {}
        # principal -> roles directly granted to it (users/roles graph)
        self._roles: dict[str, set[str]] = {}
        # user profiles for the principal REST CRUD
        # (dac/api/UserResource.java — name/first/last/email/active +
        # a `tag` optimistic-concurrency version) and explicit role
        # entities (created via DDL or REST, distinct from edge-implied
        # role names)
        self._users: dict[str, dict] = {}
        self._role_defs: set[str] = set()
        # execution-engine registry (SqlAlterEngine surface): name ->
        # autoscaling bounds; purely declarative here (local[] has one
        # "engine"), but the statement surface and sys view are real
        self._engines: dict[str, dict] = {}
        # attached external sources (ExternalQuery.java surface):
        # name -> ExternalSource for table(<name>.external_query('...'))
        self._ext_sources: dict[str, object] = {}
        # promoted folder datasets (physical datasets): name -> {path,
        # files} — the file listing is PINNED at promotion time the way
        # the reference caches dataset metadata in the namespace KV
        # store; only REFRESH DATASET re-lists the folder
        self._datasets: dict[str, dict] = {}
        # context-function state (ContextFunctions.java IS_MEMBER /
        # LAST_QUERY_ID): the session principal for role checks, and the
        # id of the most recently planned statement
        self.session_user: str = "$dremio$"
        self._query_seq = 0
        self._last_query_id: str | None = None
        # plan cache (see sql()): LRU entries and the statement counter
        # that invalidates them
        self._plan_cache: OrderedDict = OrderedDict()
        self._plan_cache_gen = 0
        self.plan_cache_hits = 0
        # per-job telemetry (reference services/jobtelemetry +
        # JobProfileResource.java:64): profiles land here from the REST
        # server and from profiled_sql(); sys.jobs reads it back
        from .plans.telemetry import JobTelemetryStore
        self.job_telemetry = JobTelemetryStore(spark)
        # USE BRANCH|TAG|REF|COMMIT session version context
        # (versionSupport.ftl SqlUseVersion): global default + per-path
        # (USE ... IN '<path>') overrides; explicit AT clauses win
        self._use_version: tuple[str, str] | None = None
        self._use_version_in: dict[str, tuple[str, str]] = {}
        # versioned (Nessie dataplane) sources: name -> commit-store
        # root (sources/dataplane.py).  Per-source USE BRANCH context:
        # name -> (kind, ref); explicit AT clauses win
        # (DataplanePlugin.java, parserImpls.ftl:943)
        self._versioned_sources: dict[str, str] = {}
        self._use_version_src: dict[str, tuple[str, str]] = {}
        # ALTER USER ... SET PASSWORD surface (SqlAlterUser): principals
        # carry an optional salted credential; no authn happens locally
        self._passwords: dict[str, str] = {}
        # path of the last COUNT(*) answered from commit metadata
        # (CountOnScanToValuesRule shortcut); None when a real scan ran
        self.last_count_from_metadata: str | None = None
        # row-access + column-masking policies (reference grammar
        # parserImpls.ftl:298,631; SqlAlterTableAddRowAccessPolicy.java):
        # table -> {"row": [(fn, expr)...], "mask": {col: (fn, expr)}}.
        # Enforced by shadowing the table's view with a rewritten read
        # (_rebuild_policy_view); rebuilt when session_user changes so
        # user-dependent policies stay live per query.
        self._policies: dict[str, dict] = {}
        self._policy_built_for: dict[str, str] = {}

    # -- access control (GRANT/REVOKE, users + roles) -----------------------
    def grant(self, privilege: str, on: str, to: str) -> None:
        """GRANT <priv> ON <object> TO <user-or-role> (Parser.tdd grant
        surface; roles resolve transitively at check time)."""
        self._acl.setdefault(on, {}).setdefault(privilege.upper(), set()).add(to)

    def revoke(self, privilege: str, on: str, to: str) -> None:
        self._acl.get(on, {}).get(privilege.upper(), set()).discard(to)

    def grant_role(self, role: str, to: str) -> None:
        """GRANT ROLE <role> TO USER/ROLE <to> — membership edge."""
        self._roles.setdefault(to, set()).add(role)

    def revoke_role(self, role: str, to: str) -> None:
        self._roles.get(to, set()).discard(role)

    def _drop_principal(self, name: str) -> None:
        """Remove a user/role everywhere: membership edges (both
        directions), ACL grantee sets, profile store — DROP USER/ROLE's
        scrub, shared with the REST DELETE routes."""
        self._roles.pop(name, None)
        for members in self._roles.values():
            members.discard(name)
        for privs in self._acl.values():
            for grantees in privs.values():
                grantees.discard(name)
        self._users.pop(name, None)
        self._role_defs.discard(name)

    # -- principal CRUD (dac/api/UserResource.java / UsersResource.java:
    # the admin-tooling surface over the same stores GRANT/REVOKE uses)
    _USER_ATTRS = ("firstName", "lastName", "email", "active")

    @staticmethod
    def _pw_hash(name: str, password: str) -> str:
        import hashlib

        # name-salted so equal passwords don't share hashes
        return hashlib.sha256(
            f"{name}\x00{password}".encode()).hexdigest()

    def create_user(self, name: str, **attrs) -> dict:
        if name in self._users:
            raise ValueError(f"user {name!r} already exists")
        password = attrs.pop("password", None)
        self._users[name] = {
            "name": name,
            **{k: attrs[k] for k in self._USER_ATTRS if k in attrs},
            "tag": "0"}
        if password:
            self._users[name]["_pw_hash"] = self._pw_hash(name,
                                                          password)
        self._roles.setdefault(name, set())
        return self.get_user(name)

    def get_user(self, name: str) -> dict | None:
        u = self._users.get(name)
        if u is None:
            return None
        # underscore keys are server internals (password hash) and
        # must never serialize out of the profile store
        return {"id": name,
                **{k: v for k, v in u.items()
                   if not k.startswith("_")},
                "roles": sorted(self._roles.get(name, ()))}

    def check_password(self, name: str, password: str) -> bool:
        """True only for a user with a STORED credential that matches.
        A user without one can never log in — password-less login
        would turn any known username into a bearer-gate bypass."""
        u = self._users.get(name)
        if u is None or not password:
            return False
        want = u.get("_pw_hash")
        if want is None:
            return False
        import hmac

        return hmac.compare_digest(want,
                                   self._pw_hash(name, password))

    def update_user(self, name: str, **attrs) -> dict:
        u = self._users.get(name)
        if u is None:
            raise KeyError(f"no user {name!r}")
        cur_tag = u.setdefault("tag", "0")  # defensive: old stores
        sent = attrs.pop("tag", None)
        if sent is not None and sent != cur_tag:
            raise ConcurrentModificationError(
                f"user {name!r} tag mismatch: expected {cur_tag!r}")
        u.update({k: attrs[k] for k in self._USER_ATTRS if k in attrs})
        u["tag"] = str(int(cur_tag) + 1)
        return self.get_user(name)

    def list_users(self, filter_text: str = "") -> list[dict]:
        f = filter_text.lower()
        return [self.get_user(n) for n in sorted(self._users)
                if f in n.lower()]

    def create_role(self, name: str) -> dict:
        self._role_defs.add(name)
        self._roles.setdefault(name, set())
        return {"id": name, "name": name,
                "members": sorted(m for m, rs in self._roles.items()
                                  if name in rs)}

    def list_roles(self) -> list[dict]:
        names = self._role_defs | {
            r for rs in self._roles.values() for r in rs}
        return [{"id": n, "name": n,
                 "members": sorted(m for m, rs in self._roles.items()
                                   if n in rs)}
                for n in sorted(names)]

    def _principals(self, user: str) -> set[str]:
        """user + every role reachable through membership edges."""
        out, stack = {user}, [user]
        while stack:
            for r in self._roles.get(stack.pop(), ()):  # noqa: B023
                if r not in out:
                    out.add(r)
                    stack.append(r)
        return out

    def check_access(self, user: str, privilege: str, on: str) -> bool:
        """Objects with no grants are open (OSS default); once any grant
        exists for an object+privilege, access is allowlist-only — a
        grant to any of the user's (transitive) roles suffices."""
        grants = self._acl.get(on, {}).get(privilege.upper())
        if grants is None:
            return True
        return bool(grants & self._principals(user))

    # -- row-access / masking policies --------------------------------------
    # Reference: ALTER TABLE ... ADD ROW ACCESS POLICY fn(cols) and
    # MODIFY COLUMN c SET MASKING POLICY fn(cols)
    # (`parserImpls.ftl:298,631`, `SqlAlterTableAddRowAccessPolicy.java`).
    # The policy body is a scalar SQL UDF (CREATE FUNCTION); reads of a
    # policied table are rewritten to `SELECT mask(c) AS c, ... WHERE
    # row_policy(cols)` over a snapshot of the original view, so BOTH
    # Engine.sql and Engine.table enforce without the caller naming the
    # policy — composed with (not replacing) the GRANT/REVOKE ACL.
    def _pol(self, table: str) -> dict:
        return self._policies.setdefault(table, {"row": [], "mask": {}})

    def _policy_target(self, name: str) -> str:
        """The session view a dataset name denotes: a VDS's FLAT name
        (the name queries rewrite dotted references to), anything else
        as given.  Policies attach to it, and reflection substitution
        finds a dataset in analyzed plans by it."""
        if "." in name:
            first, rest = name.split(".", 1)
            if first in self.spaces:
                return self._flat(first, rest)
        return name

    def add_row_access_policy(self, table: str, fn: str, args: str) -> None:
        table = self._policy_target(table)
        self._policy_snapshot_base(table)
        self._pol(table)["row"].append((fn, f"{fn}({args})"))
        self._rebuild_policy_view(table)

    def drop_row_access_policy(self, table: str, fn: str) -> None:
        table = self._policy_target(table)
        pol = self._pol(table)
        pol["row"] = [(f, e) for f, e in pol["row"] if f != fn]
        self._rebuild_policy_view(table)

    def set_masking_policy(self, table: str, col: str, fn: str,
                           args: str) -> None:
        table = self._policy_target(table)
        self._policy_snapshot_base(table)
        self._pol(table)["mask"][col] = (fn, f"{fn}({args})")
        self._rebuild_policy_view(table)

    def unset_masking_policy(self, table: str, col: str) -> None:
        table = self._policy_target(table)
        self._pol(table)["mask"].pop(col, None)
        self._rebuild_policy_view(table)

    def _policy_snapshot_base(self, table: str) -> None:
        """Preserve the unpolicied read under `__base_<t>` the first time
        a policy attaches (the enforced view then shadows the name)."""
        base = f"__base_{table}"
        try:
            self.spark.table(base)
        except Exception:  # noqa: BLE001 — not snapshotted yet
            self.spark.table(table).createOrReplaceTempView(base)

    def _fold_policy_user(self, expr: str) -> str:
        """Policies are user-dependent through context functions; fold
        the ENGINE session principal in (Spark's current_user is the OS
        user, not the engine session) — the view is rebuilt whenever
        session_user changes, so the fold stays current per query."""
        expr = self._expand_context_fns(expr)
        return re.sub(r"\b(?:query_user|session_user|user)\s*\(\s*\)",
                      f"'{self.session_user}'", expr, flags=re.I)

    def _rebuild_policy_view(self, table: str) -> None:
        pol = self._policies.get(table)
        base = f"__base_{table}"
        if pol is not None and not pol["row"] and not pol["mask"]:
            # all policies dropped: restore the original read; dropping
            # a policy that never existed is a no-op (no snapshot taken)
            self._policy_built_for.pop(table, None)
            try:
                orig = self.spark.table(base)
            except Exception:  # noqa: BLE001 — never policied
                return
            orig.createOrReplaceTempView(table)
            return
        self._ensure_shims(" ".join(
            e for _, e in pol["row"]) + " ".join(
            e for _, e in pol["mask"].values()))
        cols = self.spark.table(base).columns
        sel = ", ".join(
            f"{self._fold_policy_user(pol['mask'][c][1])} as {c}"
            if c in pol["mask"] else c
            for c in cols)
        where = " and ".join(
            f"({self._fold_policy_user(e)})" for _, e in pol["row"]) \
            or "true"
        self.spark.sql(
            f"select {sel} from {base} where {where}"
        ).createOrReplaceTempView(table)
        self._policy_built_for[table] = self.session_user

    def _ensure_policy_views(self) -> None:
        """Re-render enforced views whose folded user went stale."""
        for t, built_for in list(self._policy_built_for.items()):
            if built_for != self.session_user:
                self._rebuild_policy_view(t)

    # -- sources -----------------------------------------------------------
    def add_testdata_source(self, sf_dir: str) -> None:
        self._sources["testdata"] = sf_dir
        register_testdata(self.spark, sf_dir)

    # -- semantic layer ----------------------------------------------------
    def create_space(self, name: str) -> Space:
        sp = self.spaces.setdefault(name, Space(self, name))
        return sp

    def create_folder(self, space: str, path: str) -> None:
        """CREATE FOLDER space.a[.b…] (SqlCreateFolder, parserImpls.ftl):
        nested namespace nodes under a space; a VDS may live at any
        folder path (its dotted name)."""
        sp = self.create_space(space)
        parts = path.split(".")
        for i in range(1, len(parts) + 1):
            sp.folders.add(".".join(parts[:i]))

    def drop_folder(self, space: str, path: str) -> None:
        """DROP FOLDER (SqlDropFolder): refuses to drop a non-empty folder
        (same contract as the reference's namespace service)."""
        sp = self.spaces[space]
        prefix = path + "."
        held = [v for v in sp.vds if v.startswith(prefix)]
        if held:
            raise ValueError(f"folder {space}.{path} not empty: {held}")
        sp.folders = {
            f for f in sp.folders if f != path and not f.startswith(prefix)
        }

    def create_vds(self, space: str, name: str, sql: str) -> None:
        """CREATE VDS space[.folder…].name AS <sql> (dataset.proto:60):
        the view is stored as SQL and expanded at plan time — exactly a
        Spark temp view.  The flat view name is `<space>__<name>` with
        folder dots flattened (temp views have a flat namespace);
        `table()` resolves the dotted form."""
        sp = self.create_space(space)
        if "." in name:
            folder = name.rsplit(".", 1)[0]
            if folder not in sp.folders:
                raise ValueError(f"no such folder: {space}.{folder}")
        sp.vds[name] = sql
        # plan the view definition WITHOUT acceleration: a substituted
        # result would pin the temp view to the reflection's CURRENT
        # materialization files, which the next refresh deletes from
        # under it (views store SQL, not materialization snapshots)
        self._accel_disabled = getattr(self, "_accel_disabled", 0) + 1
        try:
            df = self.sql(sql)
        finally:
            self._accel_disabled -= 1
        df.createOrReplaceTempView(self._flat(space, name))

    def drop_vds(self, space: str, name: str) -> None:
        self.spaces[space].vds.pop(name, None)
        self.spark.catalog.dropTempView(self._flat(space, name))

    @staticmethod
    def _flat(space: str, name: str) -> str:
        return f"{space}__{name}".replace(".", "__")

    def _resolve_vds_names(self, query: str) -> str:
        """Dotted VDS references `space.name[.col]` -> the flat view
        name, outside literals: per identifier chain, one lookup of its
        head in `self.spaces`, then the longest prefix naming a VDS of
        that space — cost follows the statement, not the catalog."""
        def repl(m: sqltext.Match) -> str:
            head, parts = m.group(1), m.group(2)[1:].split(".")
            vds = getattr(self.spaces.get(head), "vds", ())
            for k in range(len(parts), 0, -1):
                name = ".".join(parts[:k])
                if name in vds:
                    return ".".join([self._flat(head, name)] + parts[k:])
            return m.group(0)

        return sqltext.sub(r"(?<![\w.])([A-Za-z_]\w*)((?:\.\w+)+)", repl,
                           query)

    def table(self, fqname: str, user: str | None = None) -> DataFrame:
        """Resolve `space.name` (VDS) or a bare table/view name; when a
        user is given, SELECT access is enforced against the ACL.
        Row-access/masking policies enforce through the shadowing view
        the name now resolves to."""
        if user is not None and not self.check_access(user, "SELECT", fqname):
            raise PermissionError(f"{user} lacks SELECT on {fqname}")
        if "__base_" in fqname:
            # the pre-policy snapshot view is an ENGINE INTERNAL: resolving
            # it would hand any caller (incl. REST/Flight clients) the
            # unmasked, unfiltered rows behind a policied table
            raise PermissionError(f"{fqname}: reserved internal name")
        if self._policy_built_for:
            self._ensure_policy_views()
        if "." in fqname:
            first, rest = fqname.split(".", 1)
            if first in self.spaces:  # space.folder….view resolves whole
                return self.spark.table(self._flat(first, rest))
            space, name = fqname.rsplit(".", 1)
            try:
                return self.spark.table(self._flat(space, name))
            except Exception:  # noqa: BLE001 — not a flattened VDS name
                # a CATALOG-qualified name (db.tbl) resolves natively;
                # mangling it to db__tbl made Hive/catalog tables
                # unreachable through the facade
                return self.spark.table(fqname)
        # USE <space> context: bare names resolve inside the current space
        if (
            self._current_space
            and fqname in self.spaces[self._current_space].vds
        ):
            return self.spark.table(self._flat(self._current_space, fqname))
        return self.spark.table(fqname)

    # -- system / information schema ---------------------------------------
    def information_schema_tables(self) -> DataFrame:
        """INFORMATION_SCHEMA."TABLES" equivalent over the session catalog.

        SHOW VIEWS/TABLES stay JVM-side (catalog.listTables() pays a py4j
        round-trip per table — seconds once a session holds many views).
        """
        from pyspark.sql import functions as F

        views = self.spark.sql("show views").select(
            F.col("namespace").alias("table_schema"),
            F.col("viewName").alias("table_name"),
            F.lit("VIEW").alias("table_type"),
        ).where(~F.col("table_name").startswith("__base_"))  # policy internals
        tables = self.spark.sql("show tables").select(
            F.col("namespace").alias("table_schema"),
            F.col("tableName").alias("table_name"),
            F.lit("TABLE").alias("table_type"),
        )
        out = tables.join(
            views.select("table_name"), "table_name", "left_anti"
        ).unionByName(views)
        if self._versioned_sources:
            # versioned (dataplane) sources list their MAIN-branch
            # contents, schema = the source name (the reference's
            # InfoSchema shows Nessie sources the same way)
            from .sources import dataplane

            rows = []
            for src, root in sorted(self._versioned_sources.items()):
                for key, content in sorted(
                        dataplane.state_at(root, "main").items()):
                    rows.append((src, key,
                                 "TABLE" if content["type"]
                                 == "ICEBERG_TABLE" else "VIEW"))
            if rows:
                out = out.unionByName(self._local_df(
                    rows, "table_schema string, table_name string, "
                          "table_type string"))
        if self._sources:
            # dir (dfs/NAS) sources list their top-level datasets,
            # schema = the source name (FileSystemPlugin namespace).
            # Dedup at the PRODUCER: a dataset already visible as a
            # session view/table (add_testdata_source registers both)
            # lists once — every consumer (columns view, catalog
            # listing, search, autocomplete) keys on table_name.  The
            # filter is a DRIVER-SIDE set over the `show` command
            # output (already catalog-sized and local) — a distributed
            # anti-join here costs a shuffle per consumer action for
            # two driver-resident inputs (measured 2x on the benched
            # info-schema query)
            seen = {r["table_name"] for r in
                    out.select("table_name").collect()}
            rows = [(src, t, "TABLE")
                    for src in sorted(self._sources)
                    for t in self.list_dir_source_tables(src)
                    if t not in seen]
            if rows:
                out = out.unionByName(self._local_df(
                    rows, "table_schema string, table_name string, "
                          "table_type string"))
        return out

    def information_schema_columns(self) -> DataFrame:
        """INFORMATION_SCHEMA."COLUMNS": one row per (table, column) with
        ordinal + data type, from the session catalog.  Each table's
        schema fetch is a py4j round trip (~100 ms of analysis), so
        fetches run CONCURRENTLY — the gateway is thread-safe and the
        JVM analyzes independent tables in parallel, turning an
        N-table catalog walk into ~max(single-table) wall-clock
        (the reference's InfoSchema scans its namespace KV store, which
        is likewise a batched read, not a per-table query)."""
        from concurrent.futures import ThreadPoolExecutor

        names = [t["table_name"]
                 for t in self.information_schema_tables().collect()]

        def fetch(name: str):
            try:
                return name, self.spark.table(name).schema
            except Exception:  # noqa: BLE001 — dropped mid-listing
                return name, None

        rows = []
        with ThreadPoolExecutor(max_workers=min(16, len(names) or 1)) as ex:
            for name, schema in ex.map(fetch, names):
                if schema is None:
                    continue
                for i, f_ in enumerate(schema.fields, start=1):
                    rows.append((name, f_.name, i,
                                 f_.dataType.simpleString(), f_.nullable))
        # versioned-source tables resolve through the catalog commit
        # tree (their names aren't session views); schema comes from the
        # main-branch snapshot's metadata — a KB-sized JSON read each
        if self._versioned_sources:
            from .sources import dataplane
            from .sources.iceberg import _snapshot_meta

            for src, root in sorted(self._versioned_sources.items()):
                for key, content in sorted(
                        dataplane.state_at(root, "main").items()):
                    if content["type"] != "ICEBERG_TABLE":
                        continue
                    try:
                        sm = _snapshot_meta(
                            os.path.join(root, content["location"]),
                            content["snapshot_id"])
                    except Exception:  # noqa: BLE001
                        continue
                    for i, f_ in enumerate(sm.schema.fields, start=1):
                        rows.append((f"{src}.{key}", f_.name, i,
                                     f_.dataType.simpleString(),
                                     f_.nullable))
        rows.sort()
        return self._local_df(
            rows or [("", "", 0, "", True)],
            "table_name string, column_name string, ordinal_position int, "
            "data_type string, is_nullable boolean",
        ).where("table_name <> ''")

    def sys_version(self) -> DataFrame:
        return self._local_df(
            [(self.spark.version,)], "version string"
        )

    def sys_reflections(self) -> DataFrame:
        """sys.reflections: registered reflections + their shapes
        (reference StatisticsService/AccelerationListManager tables)."""
        store = getattr(self, "_refl_store", None)
        rows = []
        if store is not None:
            def _status_of(r) -> str:
                # EXPIRED (past grace, never served) > STALE (commit-
                # driven) > DUE (past refresh period, still served) —
                # the reference's materialization states from
                # DependencyManager/RefreshDoneHandler
                if r.invalid:
                    return "INVALID"
                if store.is_expired(r):
                    return "EXPIRED"
                if r.stale:
                    return "STALE"
                if store.is_due(r):
                    return "DUE"
                return "CAN_ACCELERATE"

            def _refresh_of(r) -> tuple:
                return (r.refresh_mode, r.refresh_reason, r.refresh_errors)

            for r in store._reflections.values():
                rows.append((
                    r.name, r.table, ",".join(r.dims),
                    ",".join(m.name for m in r.measures),
                    len(r.joins), str(r.watermark) if r.watermark else None,
                    _status_of(r), *_refresh_of(r),
                ))
            for rr in store._raw.values():
                rows.append((rr.name, rr.table,
                             ",".join(rr.cols), "", 0, None,
                             _status_of(rr), *_refresh_of(rr)))
            for ee in getattr(store, "_external", {}).values():
                rows.append((ee.name, ee.table,
                             f"external:{ee.target}", "", 0, None,
                             "OUT_OF_SYNC" if ee.invalid
                             else "CAN_ACCELERATE", None, None, 0))
        return self._local_df(
            rows or [("", "", "", "", 0, None, "", None, None, 0)],
            "reflection_name string, dataset string, dims string, "
            "measures string, n_join_edges int, watermark string, "
            "status string, refresh_mode string, refresh_reason string, "
            "refresh_errors int",
        ).where("reflection_name <> ''")

    def sys_materializations(self) -> DataFrame:
        """sys.materializations (reference AccelerationListManager's
        materialization table): one row per materialized reflection with
        its storage footprint and refresh watermark."""
        store = getattr(self, "_refl_store", None)
        rows = []
        if store is not None:
            every = list(store._reflections.values()) + list(
                store._raw.values())
            for r in every:
                data = store._data_dir(r)
                n, size = 0, 0
                for root, _, fns in os.walk(data):
                    for fn in fns:
                        if fn.endswith(".parquet"):
                            n += 1
                            size += os.path.getsize(os.path.join(root, fn))
                rows.append((r.name, r.table, n, size,
                             str(getattr(r, "watermark", None) or "")))
        return self._local_df(
            rows or [("", "", 0, 0, "")],
            "materialization string, dataset string, n_files int, "
            "bytes long, watermark string").where("materialization <> ''")

    _SYS_JOBS_SCHEMA = (
        "job_id string, status string, n_stages int, query_type string, "
        "user_name string, sql string, start_ms long, end_ms long, "
        "planning_ms double, execution_ms double, accelerated_by string, "
        "rows_returned long")

    def sys_jobs(self) -> DataFrame:
        """sys.jobs (the reference's jobs service as a system table,
        SystemTable JOBS / JobsListingResource.java:63): tracked query
        jobs from the telemetry store — SQL text, user, planning and
        execution wall, acceleration, rows — plus any live untracked
        Spark jobs from the status tracker."""
        rows: list[tuple] = list(self.job_telemetry.rows_for_sys_jobs())
        st = self.spark.sparkContext.statusTracker()
        # live Spark jobs that BELONG to a tracked RUNNING query (each
        # job records the Spark job group its statement runs under)
        # are that query's execution, not separate entries — exclude
        # them so a running statement shows once
        tracked_live: set[int] = set()
        for group in self.job_telemetry.running_groups():
            tracked_live.update(st.getJobIdsForGroup(group))
        for jid in sorted(st.getActiveJobsIds()):
            info = st.getJobInfo(jid)
            if info and jid not in tracked_live:
                rows.append((str(jid), str(info.status),
                             len(info.stageIds), "SPARK", None, None,
                             None, None, None, None, None, None))
        return self._local_df(
            rows or [("", "", 0, "", None, None, None, None, None,
                      None, None, None)],
            self._SYS_JOBS_SCHEMA,
        ).where("job_id <> ''")

    def profiled_sql(self, query: str, user: str | None = None,
                     query_type: str = "LIBRARY"):
        """Plan a statement WITH telemetry capture: registers the job,
        times planning, records the acceleration outcome, and tags the
        calling thread's Spark jobs with the job group `lib-job-{id}`
        until `finish_job`.  Returns (DataFrame, job_id); the caller
        executes the frame on this thread and then calls `finish_job`
        (execution is lazy — planning wall is all that exists at sql()
        time).  This is the library-level JobsService submit
        (reference LocalJobsService.submitJob)."""
        import time as _time
        import uuid as _uuid

        from .plans.telemetry import clear_job_group

        jid = _uuid.uuid4().hex[:16]
        tel = self.job_telemetry
        group = f"lib-job-{jid}"
        tel.start(jid, query, user or self.session_user, query_type,
                  job_group=group)
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"library job {jid}")
        t0 = _time.perf_counter()
        try:
            df = self.sql(query)
        except Exception as e:  # noqa: BLE001 — profile the failure too
            clear_job_group(sc)
            tel.complete(jid, state="FAILED",
                         error=f"{type(e).__name__}: {e}")
            raise
        tel.planned(jid, (_time.perf_counter() - t0) * 1000,
                    accelerated_by=getattr(
                        self, "last_plan_accelerated", None),
                    considered=getattr(
                        self, "last_plan_considered", None))
        return df, jid

    _SQL_REF_STOP = frozenset((
        "where", "group", "order", "join", "on", "having", "limit",
        "union", "left", "right", "inner", "full", "cross",
        "lateral", "qualify", "using", "values", "select",
        "window", "natural", "semi", "anti", "except",
        "intersect", "distribute", "cluster", "sort", "as"))

    @classmethod
    def _sql_from_refs(cls, sql: str) -> list[str]:
        """FROM/JOIN targets INCLUDING old-style comma lists
        ("from a, b c, d"), skipping aliases by keyword guard —
        shared by dataset_graph and dataset_descendants."""
        clean = sqltext.mask(sql)
        out: list[str] = []
        for m in re.finditer(r"\b(?:from|join)\s+", clean, re.I):
            pos = m.end()
            while True:
                mi = re.match(r"`?([A-Za-z_][\w.]*)`?", clean[pos:])
                if mi is None or mi.group(1).lower() in \
                        cls._SQL_REF_STOP:
                    break
                out.append(mi.group(1))
                pos += mi.end()
                ma = re.match(r"\s+(?:as\s+)?([A-Za-z_]\w*)",
                              clean[pos:])
                if ma and ma.group(1).lower() not in cls._SQL_REF_STOP:
                    pos += ma.end()  # table alias
                mc = re.match(r"\s*,\s*", clean[pos:])
                if mc is None:
                    break
                pos += mc.end()
        return out

    def dataset_graph(self, sql_text: str) -> list[dict]:
        """Dataset lineage for a statement (the jobs page's
        `/jobs-listing/{id}/datasetGraph` — JobsListingResource.java:166
        over JobDatasetGraphUI.of): every dataset the statement's
        FROM/JOIN clauses reference, VDS expanded RECURSIVELY through
        their stored view SQL (parents chain), with the reflections
        anchored on each dataset attached.  Catalog-sized string work
        on the driver — no planning, no Spark jobs; resolution of
        physical names goes through `table()` so source/dir/versioned
        namespaces all classify correctly."""
        refs = self._sql_from_refs
        # Spark SQL identifiers are case-insensitive: match lowered,
        # display the catalog's stored spelling
        vds_sql: dict[str, tuple[str, str]] = {}
        for sp_name, sp in self.spaces.items():
            for vname, vsql in sp.vds.items():
                canon = f"{sp_name}.{vname}"
                vds_sql[canon.lower()] = (canon, vsql)
        store = getattr(self, "_refl_store", None)

        def refl_names(path: str) -> list[str]:
            if store is None:
                return []
            return sorted(
                r.name for r in list(store._reflections.values())
                + list(store._raw.values())
                if r.table.lower() == path.lower())

        nodes: dict[str, dict] = {}

        def visit(path: str) -> str | None:
            """Returns the node key, or None when not a dataset."""
            disp = path.strip("`")
            key = disp.lower()
            if key in nodes:
                return key
            if key in vds_sql:
                canon, vsql = vds_sql[key]
                node = {"id": canon, "datasetPath": canon.split("."),
                        "datasetType": "VIRTUAL_DATASET",
                        "sql": vsql, "parents": [],
                        "reflections": refl_names(key)}
                # insert BEFORE recursing: a cyclic view chain must
                # terminate, not hang the jobs page
                nodes[key] = node
                for p in refs(vsql):
                    pk = visit(p)
                    pid = nodes[pk]["id"] if pk else None
                    if pid and pid not in node["parents"]:
                        node["parents"].append(pid)
                return key
            try:
                self.table(key)
            except Exception:  # noqa: BLE001 — subquery alias, TVF, …
                return None
            # id keeps the QUERY's spelling (like the VDS branch keeps
            # the catalog's) — resolution alone is case-insensitive
            nodes[key] = {"id": disp, "datasetPath": disp.split("."),
                          "datasetType": "PHYSICAL_DATASET",
                          "parents": [],
                          "reflections": refl_names(key)}
            return key

        for name in refs(sql_text):
            visit(name)
        return list(nodes.values())

    def _vds_at(self, path: str) -> tuple:
        """(space, stored-name, sql) for a dotted VDS path, matching
        the stored spelling CASE-INSENSITIVELY (Spark identifiers
        are); raises when the path does not name a VDS."""
        spn, _, name = path.partition(".")
        if not (spn and name):
            raise ValueError("dataset paths must be space.name")
        for sp_name, sp in self.spaces.items():
            if sp_name.lower() != spn.lower():
                continue
            for vname, vsql in sp.vds.items():
                if vname.lower() == name.lower():
                    return sp_name, vname, vsql
        raise ValueError(f"no such dataset: {path}")

    def _vds_target_ok(self, new_path: str) -> tuple:
        """Validated (space, name) for a move/copy TARGET: the space
        must already exist (an unknown container is a client error,
        not an implicit create — DatasetResource 404s it) and no
        dataset may already answer the name (case-insensitive)."""
        nsp, _, nname = new_path.partition(".")
        if not (nsp and nname):
            raise ValueError("dataset paths must be space.name")
        tgt = next((sp for n, sp in self.spaces.items()
                    if n.lower() == nsp.lower()), None)
        if tgt is None:
            raise ValueError(f"no such space: {nsp}")
        if any(v.lower() == nname.lower() for v in tgt.vds):
            raise ValueError(f"dataset exists: {new_path}")
        return nsp, nname

    def move_vds(self, old_path: str, new_path: str) -> str:
        """Rename/move a VDS (DatasetResource.java:483 renameDataset /
        :494 moveDataset — both are a namespace move): re-register
        under the new path, drop the old binding, and MIGRATE the
        dataset's acceleration config (refresh policy, reflection
        anchors) so a rename never orphans settings.  Clobber and
        unknown-container refuse; all checks are case-insensitive
        like Spark resolution."""
        osp, oname, sql = self._vds_at(old_path)
        nsp0, _, nname0 = new_path.partition(".")
        same = (f"{osp}.{oname}".lower()
                == f"{nsp0}.{nname0}".lower() if nname0 else False)
        if same:
            # respell-only rename: create-then-drop would register the
            # new temp view (case-insensitive name!) and then drop it
            sp = self.spaces[osp]
            sp.vds[nname0] = sp.vds.pop(oname)
            return f"{osp}.{nname0}"
        nsp, nname = self._vds_target_ok(new_path)
        old_l, new_l = f"{osp}.{oname}".lower(), \
            f"{nsp}.{nname}".lower()
        store = getattr(self, "_refl_store", None)
        self.create_vds(nsp, nname, sql)
        moved: list = []  # reflections whose anchor we re-pointed
        pol = None
        try:
            # migrate settings BEFORE dropping the old binding, and
            # roll everything back if any step raises — a half-moved
            # dataset (registered under both paths, settings split)
            # must never survive (move is all-or-nothing, like the
            # reference's single namespace rename)
            if store is not None:
                pol = store.refresh_policies.pop(old_l, None)
                if pol is not None:
                    store.refresh_policies[new_l] = pol
                for r in (list(store._reflections.values())
                          + list(store._raw.values())):
                    if r.table.lower() == old_l:
                        r.table = f"{nsp}.{nname}"
                        moved.append(r)
                store._bump()
            self.drop_vds(osp, oname)
        except BaseException:
            if store is not None:
                if pol is not None:
                    store.refresh_policies.pop(new_l, None)
                    store.refresh_policies[old_l] = pol
                for r in moved:
                    r.table = f"{osp}.{oname}"
                store._bump()
            try:
                self.drop_vds(nsp, nname)
            except Exception:  # noqa: BLE001 — keep original error
                pass
            raise
        return f"{nsp}.{nname}"

    def copy_vds(self, from_path: str, to_path: str) -> str:
        """copyFrom (DatasetResource.java:466): a new VDS with the
        source's SQL under the target path (same validation as
        move_vds: shaped paths, existing target space, no clobber)."""
        _, _, sql = self._vds_at(from_path)
        tsp, tname = self._vds_target_ok(to_path)
        self.create_vds(tsp, tname, sql)
        return f"{tsp}.{tname}"

    def dataset_descendants(self, path: str) -> list[list[str]]:
        """Every VDS that reads this dataset, DIRECTLY OR TRANSITIVELY
        (DatasetResource.java:139 getDescendants): BFS over the
        direct-reference edges parsed from stored view SQL with the
        same scanner the lineage graph uses.  Catalog-sized driver
        work."""
        edges: dict[str, set[str]] = {}  # parent(lower) -> children
        for sp_name, sp in self.spaces.items():
            for vname, vsql in sp.vds.items():
                child = f"{sp_name}.{vname}"
                for p in self._sql_from_refs(vsql):
                    edges.setdefault(
                        p.strip("`").lower(), set()).add(child)
        out: list[str] = []
        seen = {path.lower()}
        frontier = [path.lower()]
        while frontier:
            cur = frontier.pop()
            for child in sorted(edges.get(cur, ())):
                if child.lower() not in seen:
                    seen.add(child.lower())
                    out.append(child)
                    frontier.append(child.lower())
        return [c.split(".") for c in sorted(out)]

    def finish_job(self, jid: str, df: DataFrame | None = None,
                   state: str = "COMPLETED",
                   execution_ms: float | None = None,
                   row_count: int | None = None,
                   error: str | None = None) -> None:
        """Complete a profiled job and clear its job group from the
        calling thread.  The profile is read later from Spark's status
        store through that group, so `df` (the frame the caller ran) is
        not needed; it stays accepted for callers that pass it."""
        from .plans.telemetry import clear_job_group

        sc = self.spark.sparkContext
        if sc.getLocalProperty("spark.jobGroup.id") == f"lib-job-{jid}":
            clear_job_group(sc)
        self.job_telemetry.complete(
            jid, state=state, execution_ms=execution_ms,
            row_count=row_count, error=error)

    def sys_options(self) -> DataFrame:
        keys = [
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
            "spark.sql.session.timeZone",
            "spark.sql.cbo.enabled",
        ] + sorted(getattr(self, "_session_options", {}))
        return self._local_df(
            [(k, self.spark.conf.get(k, None)) for k in dict.fromkeys(keys)],
            "name string, value string",
        )

    def sys_nodes(self) -> DataFrame:
        """sys.nodes (SystemTable.NODES): one row per executor from the
        status tracker — on a cluster this is the coordinator/executor
        fleet the reference lists."""
        infos = (self.spark.sparkContext._jsc.sc()
                 .statusTracker().getExecutorInfos())
        rows = [(i.host(), i.port(), i.numRunningTasks()) for i in infos]
        return self._local_df(
            rows or [("", 0, 0)],
            "host string, port int, n_running_tasks int",
        ).where("host <> ''")

    def sys_memory(self) -> DataFrame:
        """sys.memory (SystemTable.MEMORY): per-executor storage-memory
        accounting from the status tracker."""
        infos = (self.spark.sparkContext._jsc.sc()
                 .statusTracker().getExecutorInfos())
        rows = [(i.host(), int(i.usedOnHeapStorageMemory()),
                 int(i.totalOnHeapStorageMemory()),
                 int(i.usedOffHeapStorageMemory()),
                 int(i.totalOffHeapStorageMemory())) for i in infos]
        return self._local_df(
            rows or [("", 0, 0, 0, 0)],
            "host string, used_onheap long, total_onheap long, "
            "used_offheap long, total_offheap long",
        ).where("host <> ''")

    def sys_roles(self) -> DataFrame:
        """sys.roles: every principal that appears as a grantable role."""
        roles = sorted({r for rs in self._roles.values() for r in rs}
                       | set(self._roles))
        return self._local_df(
            [(r,) for r in roles] or [("",)], "role_name string"
        ).where("role_name <> ''")

    def sys_membership(self) -> DataFrame:
        """sys.membership: direct (member -> role) edges of the grants
        graph (transitive closure applies at check time)."""
        rows = [(m, r) for m, rs in self._roles.items() for r in sorted(rs)]
        return self._local_df(
            rows or [("", "")], "member string, role_name string"
        ).where("member <> ''")

    def sys_privileges(self) -> DataFrame:
        """sys.privileges: flattened ACL (object, privilege, grantee)."""
        rows = [(obj, priv, g)
                for obj, privs in self._acl.items()
                for priv, gs in privs.items()
                for g in sorted(gs)]
        return self._local_df(
            rows or [("", "", "")],
            "object string, privilege string, grantee string",
        ).where("object <> ''")

    def sys_timezone_names(self) -> DataFrame:
        """sys.timezone_names (SystemTable.TIMEZONE_NAMES)."""
        import zoneinfo

        return self._local_df(
            [(z,) for z in sorted(zoneinfo.available_timezones())],
            "timezone_name string")

    def sys_user_defined_functions(self) -> DataFrame:
        """sys.user_defined_functions: SQL shims + tabular UDFs
        (SystemTable.USER_DEFINED_FUNCTIONS)."""
        from .functions.shims import _SQL_FUNCTIONS

        rows = ([(n, "scalar_sql") for n in sorted(_SQL_FUNCTIONS)]
                + [(n, "tabular_sql") for n in sorted(self._tabular)])
        return self._local_df(
            rows, "function_name string, kind string")

    def sys_dependencies(self) -> DataFrame:
        """sys.dependencies: reflection -> base dataset edges (the
        acceleration dependency graph the refresh scheduler walks)."""
        store = getattr(self, "_refl_store", None)
        rows = []
        if store is not None:
            rows = ([(r.name, r.table) for r in store._reflections.values()]
                    + [(r.name, r.table) for r in store._raw.values()])
        return self._local_df(
            rows or [("", "")],
            "reflection_name string, depends_on string",
        ).where("reflection_name <> ''")

    # sys.* names addressable from SQL (method suffix == table name)
    _SYS_SQL = frozenset({
        "version", "nodes", "memory", "roles", "membership", "privileges",
        "timezone_names", "user_defined_functions", "dependencies",
        "reflections", "materializations", "jobs", "options", "engines",
        "reflection_routing", "statistics", "histograms",
        "reflection_recommendations", "queues",
    })

    def sys_queues(self) -> DataFrame:
        """sys.queues (WLM queue limits + live occupancy) — the
        workload manager's view, SQL-addressable like the rest of the
        sys.* registry."""
        return self._workload().sys_queues()

    def _expand_sys_tables(self, query: str) -> str:
        """Make `sys.<name>` and `INFORMATION_SCHEMA.<view>` table refs
        queryable in engine SQL by materializing the corresponding
        catalog view as a temp view."""
        def repl(m: sqltext.Match) -> str:
            name = m.group(1).lower()
            if name not in self._SYS_SQL:
                return m.group(0)
            fn = getattr(self, f"sys_{name}", None)
            if fn is None:
                return m.group(0)
            view = f"__sys_{name}"
            fn().createOrReplaceTempView(view)
            return view

        query = sqltext.sub(r"\bsys\.(\w+)\b", repl, query, re.I)

        def repl_is(m: sqltext.Match) -> str:
            kind = m.group(1).lower().strip('"')
            src = self.information_schema_tables()
            if kind == "views":
                src = src.where("table_type = 'VIEW'")
            elif kind == "schemata":
                src = (src.select(F.col("table_schema")
                                  .alias("schema_name")).distinct())
            elif kind == "columns":
                src = self.information_schema_columns()
            elif kind != "tables":
                return m.group(0)
            view = f"__is_{kind}"
            src.createOrReplaceTempView(view)
            return view

        # Dremio's double-quoted identifier (`information_schema."TABLES"`)
        # is a string literal to the lexer: match its masked quotes
        return sqltext.sub(r"\binformation_schema\.(\"[^\"]*\"|\w+)",
                           repl_is, query, re.I)

    def alter_session(self, key: str, value) -> None:
        """ALTER SESSION SET "key" = value (reference `SqlSetOption` /
        ALTER SESSION surface): session-scoped option writes.  Keys map
        straight onto Spark SQL confs — the session conf IS the option
        store; set options additionally surface in sys.options."""
        self.spark.conf.set(key, str(value))
        self._session_options = getattr(self, "_session_options", {})
        self._session_options[key] = str(value)
        self._split_conf_changed(key)

    def reset_session(self, key: str) -> None:
        """ALTER SESSION RESET "key"."""
        self.spark.conf.unset(key)
        getattr(self, "_session_options", {}).pop(key, None)
        self._split_conf_changed(key)

    def _split_conf_changed(self, key: str) -> None:
        """A conf `statistics.one_split` reads changed: drop the
        one-split decisions taken under the old value.  The testdata
        views are re-registered and every VDS is planned again (a view
        holds the plan of the handles it was planned over); the
        materialization scans decide again on their next read."""
        if not key.lower().startswith(
                ("spark.sql.files.",
                 "spark.sql.adaptive.coalescepartitions.")):
            return
        self._plan_cache.clear()
        forget_loads(self.spark)
        if "testdata" in self._sources:
            register_testdata(self.spark, self._sources["testdata"])
            for space, sp in list(self.spaces.items()):
                for name, body in list(sp.vds.items()):
                    self.create_vds(space, name, body)
        store = getattr(self, "_refl_store", None)
        if store is not None:
            store.forget_splits()

    # -- view acceleration (reflections defined ON a VDS) --------------------
    def create_vds_reflection(
        self, space: str, name: str, refl_name: str,
        dims: list[str], measures, root: str,
    ):
        """ALTER VDS ... CREATE AGGREGATION REFLECTION: materialize an
        aggregate of the view's RESULT.  This is the reference's view
        acceleration (SubstitutionProvider.java matches the query tree
        against the view's expanded tree): because the reflection is
        keyed by the VDS identity, any aggregate over that VDS with a
        dims/measures subset answers from the materialization — the
        view's own join tree never re-executes."""
        from .plans import ReflectionStore

        store = getattr(self, "_refl_store", None)
        if store is None or store.root != root:
            store = self._refl_store = ReflectionStore(self.spark, root)
        fq = f"{space}.{name}"
        store.create_aggregation_reflection(
            refl_name, self.table(fq), table=fq, dims=dims, measures=measures,
        )
        return store

    def aggregate_vds(self, space: str, name: str, dims, measures,
                      filters=()) -> tuple[DataFrame, bool]:
        """Aggregate over a VDS, substituting a covering reflection.
        Returns (DataFrame, substituted)."""
        from .plans import AggQuery

        fq = f"{space}.{name}"
        q = AggQuery(table=fq, dims=tuple(dims), measures=tuple(measures),
                     filters=tuple(filters))
        store = getattr(self, "_refl_store", None)
        if store is None:
            raise ValueError("no reflections created on this engine")
        return store.execute(q, self.table(fq))

    # -- reflections DDL (SqlCreateReflection / SqlAccel parser surface) ----
    def _resolve_table(self, name: str) -> DataFrame:
        """Table ref for DDL: space.vds through the namespace, otherwise
        a session view/table."""
        if "." in name and name.split(".", 1)[0] in self.spaces:
            return self.table(name)
        return self.spark.table(name)

    def _default_refl_store(self):
        from .plans import ReflectionStore

        store = getattr(self, "_refl_store", None)
        if store is None:
            root = os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                ".scratch", f"engine_refl_{os.getpid()}")
            store = self._refl_store = ReflectionStore(self.spark, root)
        return store

    def _reflection_statement(self, query: str) -> DataFrame | None:
        """SQL forms of the reflections DDL (reference grammar:
        `parserImpls.ftl` SqlCreateReflection — ALTER TABLE/VDS ...
        CREATE AGGREGATE|RAW REFLECTION, SqlDropReflection, and the
        refresh job):

            ALTER TABLE t CREATE AGGREGATE REFLECTION r
                USING DIMENSIONS (a, b) MEASURES (x (SUM), y (COUNT))
            ALTER TABLE t CREATE RAW REFLECTION r
                USING DISPLAY (c1, c2) [LOCALSORT BY (c)]
            ALTER TABLE t DROP REFLECTION r
            REFRESH REFLECTION r
        """
        from .plans import Measure

        # path-anchored reflections (the reference's normal case —
        # reflections on PHYSICAL lake datasets): ALTER TABLE '<path>'
        # rewrites to a deterministic __plake_<digest> view over the
        # table so every downstream regex, the plan-tree matcher, and
        # col_owner all see one canonical name for the dataset
        m = re.match(
            r"(\s*alter\s+(?:table|vds|dataset)\s+)'([^']+)'(\s+.*)$",
            query, re.I | re.S)
        if m and codec_of(m.group(2)):
            view = self._register_path_reflection_view(m.group(2))
            query = m.group(1) + view + m.group(3)
        m = re.match(
            r"\s*alter\s+(?:table|vds|dataset)\s+([\w.]+)\s+create\s+"
            r"aggregate\s+reflection\s+(\w+)\s+using\s+"
            r"dimensions\s*\(([^)]*)\)\s*"
            r"measures\s*\((.*?)\)\s*"
            r"(?:joins\s*\(([^)]*)\)\s*)?"
            r"(?:partition\s+by\s*\(([^)]*)\)\s*)?"
            r"(?:localsort\s+by\s*\(([^)]*)\)\s*)?$",
            query, re.I | re.S)
        if m:
            t, name, dim_s, meas_s, join_s, part_s, sort_s = m.groups()
            # dimension granularity (grammar alter.ftl:441-472
            # IdentifierWithGranularity): `ts BY DAY` materializes
            # cast(ts as date); with
            # spark.dremio.reflections.defaultDateGranularity=true,
            # plain TIMESTAMP dims default to DAY exactly like the
            # reference (ReflectionExpander.java:194-210 defaults
            # missing granularity to DATE) — off by default here so
            # raw-grain timestamp dims keep full fidelity
            dims, granularity = [], {}
            for d in dim_s.split(","):
                d = d.strip()
                if not d:
                    continue
                gm = re.fullmatch(r"(\w+)\s+by\s+day", d, re.I)
                if gm:
                    dims.append(gm.group(1))
                    granularity[gm.group(1)] = "day"
                else:
                    dims.append(d)
            if (self.spark.conf.get(
                    "spark.dremio.reflections.defaultDateGranularity",
                    "false").lower() == "true"):
                dtypes = dict(self._resolve_table(t).dtypes)
                for d in dims:
                    if (d not in granularity
                            and dtypes.get(d, "").startswith("timestamp")):
                        granularity[d] = "day"
            # star edges FIRST: expression measures may reference dim
            # columns, so their canonical probe must see the whole star
            joins = None
            dim_sources = None
            if join_s:
                from .plans import JoinSpec

                joins, dim_sources = [], {}
                for jm in re.finditer(
                        r"(?:(left|inner|full)\s+)?([\w.]+)\s+on\s+"
                        r"(\w+)\s*=\s*(\w+)", join_s, re.I):
                    jt, dim_t, fk, dk = jm.groups()
                    joins.append(JoinSpec(
                        dim_t, fk, dk,
                        join_type=(jt or "inner").lower()))
                    dim_sources[dim_t] = self._resolve_table(dim_t)
            store = self._default_refl_store()
            measures = []
            star_df = None
            for item in sqltext.split_top_level(meas_s):
                item = item.strip()
                if not item:
                    continue
                im = re.fullmatch(r"(.+?)\s*\(([\w\s,]*)\)", item, re.S)
                if im is None:
                    raise ValueError(f"bad measure item {item!r}")
                target, fns = im.group(1).strip(), im.group(2)
                if target.startswith("(") and target.endswith(")"):
                    # expression measure (e.g. the TPC-H revenue
                    # `(l_extendedprice * (1 - l_discount)) (SUM)`):
                    # canonicalize through the SAME walker the query
                    # matcher uses, so matching is exact-by-construction.
                    # The probe analyzes over the STAR (vds-resolved
                    # fact ⋈ dims), so dim-column expressions resolve.
                    from .plans.substitution import (
                        canonical_expr_from_projection)

                    if star_df is None:
                        star_df = store._join_star(
                            self._resolve_table(t), tuple(joins or ()),
                            dim_sources)
                    probe = star_df.selectExpr(f"{target} as __m")
                    target = canonical_expr_from_projection(
                        probe._jdf.queryExecution().analyzed().toJSON())
                    if target is None:
                        raise ValueError(
                            f"measure expression outside the matchable "
                            f"fragment: {item!r}")
                for fn in fns.split(","):
                    if fn.strip():
                        # the reference's measure-type keywords
                        # (grammar alter.ftl:516-530): MIN MAX COUNT
                        # SUM and (APPROXIMATE|APPROX) COUNT DISTINCT
                        # (MeasureType.APPROX_COUNT_DISTINCT) — the
                        # latter materializes as an HLL sketch partial
                        kind = re.sub(r"\s+", " ", fn.strip().lower())
                        kind = {"approximate count distinct": "ndv",
                                "approx count distinct": "ndv",
                                "ndv": "ndv"}.get(kind, kind)
                        measures.append(Measure(kind, target))
            is_path = t in getattr(self, "_refl_view_paths", {})
            if is_path and not any(
                    mm.kind == "count" and mm.col == "*"
                    for mm in measures):
                # path-anchored reflections maintain under DML via the
                # SIGNED change-feed fold, which needs a COUNT(*) to
                # detect fully-emptied groups — record one alongside the
                # declared measures (the reference's reflections always
                # carry a record count)
                measures.append(Measure("count", "*"))
            refl = store.create_aggregation_reflection(
                name, self._resolve_table(t), table=t, dims=dims,
                measures=measures, joins=joins, dim_sources=dim_sources,
                partition_by=[c.strip() for c in part_s.split(",")
                              if c.strip()] if part_s else None,
                sort_by=[c.strip() for c in sort_s.split(",")
                         if c.strip()] if sort_s else None,
                granularity=granularity or None)
            # path-anchored: record the built-at version so commit-driven
            # refreshes can fold only the CHANGE FEED since this point
            p = getattr(self, "_refl_view_paths", {}).get(t)
            if p is not None:
                refl.base_version = self._lake_head_version(p)
            return self._status(
                "CREATE AGGREGATE REFLECTION",
                f"{name} on {t}: {len(dims)} dims, "
                f"{len(measures)} measures"
                + (f", {len(joins)} star edges" if joins else ""))
        m = re.match(
            r"\s*alter\s+(?:table|vds|dataset)\s+([\w.]+)\s+create\s+"
            r"raw\s+reflection\s+(\w+)\s+using\s+display\s*\(([^)]*)\)"
            r"(?:\s+localsort\s+by\s*\((\w+)\))?"
            r"(?:\s+refresh\s+by\s+append\s*\((\w+)\))?\s*$",
            query, re.I)
        if m:
            t, name, cols_s, sort_col, wm = m.groups()
            cols = [c.strip() for c in cols_s.split(",") if c.strip()]
            if wm and wm not in cols:
                raise ValueError(
                    f"watermark column {wm!r} must be a DISPLAY column")
            store = self._default_refl_store()
            store.create_raw_reflection(
                name, self._resolve_table(t), table=t,
                display_cols=cols, sort_col=sort_col,
                watermark_col=wm)
            return self._status("CREATE RAW REFLECTION",
                                f"{name} on {t}: {len(cols)} columns")
        m = re.match(
            r"\s*alter\s+(?:table|vds|dataset)\s+([\w.]+)\s+create\s+"
            r"external\s+reflection\s+(\w+)\s+using\s+([\w.]+)\s*$",
            query, re.I)
        if m:
            t, name, target = m.groups()
            store = self._default_refl_store()
            store.create_external_reflection(
                name, t, target, self._resolve_table(t),
                self._resolve_table(target))
            return self._status(
                "CREATE EXTERNAL REFLECTION",
                f"{name}: {t} answered by {target}")
        m = re.match(
            r"\s*alter\s+(?:table|vds|dataset)\s+[\w.]+\s+drop\s+"
            r"reflection\s+(\w+)\s*$", query, re.I)
        if m:
            self._default_refl_store().drop(m.group(1))
            return self._status("DROP REFLECTION", m.group(1))
        m = re.match(
            r"\s*alter\s+(table|vds|view|pds|dataset|space|folder)\s+"
            r"([\w.]+)\s+route\s+(?:all\s+)?reflections\s+to\s+"
            r"(?:(default)\s+)?(queue|engine)(?:\s+(\w+))?\s*$",
            query, re.I)
        if m:
            # SqlAlterDatasetReflectionRouting (alter.ftl:625): pin a
            # dataset's (or a whole space/folder's) reflection
            # MAINTENANCE jobs to a workload queue or an engine —
            # refresh work rides that scheduler pool instead of the
            # cost-classified default
            scope, name, isdef, kind, target = m.groups()
            routing = self._refl_routing_map()
            scope_kind = ("prefix" if scope.lower() in ("space", "folder")
                          else "dataset")
            if isdef:
                routing.pop(name, None)
                return self._status("ROUTE REFLECTIONS",
                                    f"{name} -> default {kind.lower()}")
            if target is None:
                raise ValueError("ROUTE REFLECTIONS TO QUEUE/ENGINE "
                                 "needs a name (or DEFAULT)")
            if kind.lower() == "queue":
                qname = target.upper()
                if qname not in self._workload().queues:
                    raise ValueError(f"unknown queue {target!r}")
                routing[name] = (scope_kind, "queue", qname)
            else:
                if target not in getattr(self, "_engines", {}):
                    raise ValueError(f"unknown engine {target!r}")
                routing[name] = (scope_kind, "engine", target)
            return self._status(
                "ROUTE REFLECTIONS",
                f"{name} -> {kind.lower()} {routing[name][2]}")
        m = re.match(r"\s*refresh\s+reflection\s+(\w+)\s*$", query, re.I)
        if m:
            name = m.group(1)
            store = self._default_refl_store()
            refl = store._reflections.get(name) or store._raw.get(name)
            if refl is None:
                raise ValueError(f"no reflection {name!r}")
            # shape-preserving rebuild (joins/layout/filters kept) —
            # the earlier re-create dropped the star edges
            self._refresh_stale_reflection(refl)
            refl.stale = False
            refl.invalid = False  # a successful refresh ends quarantine
            store._stamp(refl)
            return self._status("REFRESH REFLECTION", name)
        # refresh POLICY: the reference's per-dataset
        # AccelerationSettings (refreshPeriod/gracePeriod), consumed by
        # DependencyManager to schedule refreshes and by the planner to
        # EXPIRE materializations (RefreshDoneHandler computes the next
        # refresh/expiry instants from the same two settings)
        m = re.match(
            r"\s*alter\s+(?:table|vds|dataset)\s+([\w.]+)\s+set\s+"
            r"acceleration\s+refresh\s+every\s+(\d+)\s*"
            r"(second|minute|hour|day)s?"
            r"(?:\s+expire\s+after\s+(\d+)\s*(second|minute|hour|day)s?"
            r"|\s+(never\s+expire))?\s*$",
            query, re.I)
        if m:
            t, n, unit, g, gunit, never = m.groups()
            mult = {"second": 1, "minute": 60, "hour": 3600,
                    "day": 86400}
            refresh_s = int(n) * mult[unit.lower()]
            grace_s = (int(g) * mult[gunit.lower()] if g else None)
            self._default_refl_store().set_refresh_policy(
                t, refresh_s, grace_s)
            return self._status(
                "SET ACCELERATION REFRESH",
                f"{t}: refresh every {refresh_s}s"
                + (f", expire after {grace_s}s" if grace_s is not None
                   else ", never expire"))
        # REFRESH REFLECTIONS [for one dataset] (alter.ftl:198
        # SqlRefreshReflectionsForDataset; bare form = everything due):
        # refreshes every DUE reflection in dependency order —
        # reflections on base datasets before reflections on VDS that
        # read them (DependencyManager's dependency-driven ordering), so
        # a dependent's refresh query sees fresh upstream data
        m = re.match(
            r"\s*(?:alter\s+(?:table|vds|dataset)\s+([\w.]+)\s+)?"
            r"refresh\s+reflections\s*$", query, re.I)
        if m:
            names = self.refresh_due_reflections(m.group(1))
            return self._status(
                "REFRESH REFLECTIONS",
                ",".join(names) if names else "(none due)")
        return None

    def refresh_due_reflections(self, dataset: str | None = None
                                ) -> list[str]:
        """Refresh every reflection that is DUE (commit-stale, invalid,
        or older than its dataset's refresh period) in dependency
        order; returns the refreshed names in execution order."""
        store = self._default_refl_store()

        # ALTER VDS space.name ... passes the dotted form while a
        # VDS-backed reflection may record the flattened temp-view name
        # (_flat); canonicalize both sides so neither form silently
        # refreshes nothing
        def _canon(name: str) -> str:
            return name.replace(".", "__").lower()

        want = _canon(dataset) if dataset is not None else None
        due = [r for r in (list(store._reflections.values())
                           + list(store._raw.values()))
               if (want is None or _canon(r.table) == want)
               and (store.is_due(r) or r.invalid)]
        ordered = self._refl_dependency_order(due)
        done: list[str] = []
        for r in ordered:
            try:
                self._refresh_stale_reflection(r)
            except Exception:  # noqa: BLE001 — quarantine, keep going
                # same fail-safe contract as auto-refresh: one broken
                # reflection (base dropped, column gone) must not fail
                # the whole due list; it quarantines INVALID and stops
                # matching until repaired
                r.invalid = True
                continue
            r.stale = False
            r.invalid = False
            store._stamp(r)
            done.append(r.name)
        return done

    def _vds_sql_of(self, dataset: str) -> str | None:
        """The defining SQL when `dataset` names a VDS (flat or dotted
        form), else None."""
        for space, sp in getattr(self, "spaces", {}).items():
            for vname, sql in sp.vds.items():
                if dataset in (self._flat(space, vname),
                               f"{space}.{vname}"):
                    return sql
        return None

    def _refl_dependency_order(self, refls: list) -> list:
        """Kahn topo-sort: reflection A depends on reflection B when
        A's dataset is a VDS whose SQL references B's dataset — B
        refreshes first so A's refresh reads fresh data (the
        reference's DependencyManager refresh ordering).  Stable by
        name within a rank; cycles (self-referential VDS chains) fall
        back to name order for the remainder rather than dropping."""
        deps: dict[str, set] = {}
        for r in refls:
            sql = self._vds_sql_of(r.table)
            deps[r.name] = set()
            if sql:
                for r2 in refls:
                    if r2.name != r.name and re.search(
                            rf"\b{re.escape(r2.table)}\b", sql):
                        deps[r.name].add(r2.name)
        by_name = {r.name: r for r in refls}
        out, done = [], set()
        pending = sorted(deps)
        while pending:
            ready = [n for n in pending if deps[n] <= done]
            if not ready:  # cycle: deterministic fallback
                ready = pending
            for n in ready:
                out.append(by_name[n])
                done.add(n)
            pending = [n for n in pending if n not in done]
        return out

    # -- tabular SQL UDFs (CREATE FUNCTION ... RETURNS TABLE) ----------------
    def create_tabular_udf(self, name: str, params: list[str], sql: str) -> None:
        """CREATE FUNCTION name(params) RETURNS TABLE RETURN <query>
        (parserImpls.ftl:367).  Stored as a SQL template; call sites
        (`TABLE(name(args))`) are expanded inline at plan time like the
        reference's TabularUserDefinedFunctionExpanderRule — Catalyst
        then optimizes through the expansion (pushdown into the body)."""
        self._tabular[name] = (list(params), sql)

    def _expand_tabular(self, query: str) -> str:
        def repl(m: sqltext.Match) -> str:
            name, argstr = m.group(1), m.group(2)
            if name not in self._tabular:
                return m.group(0)
            params, body = self._tabular[name]
            args = ([a.strip() for a in sqltext.split_top_level(argstr)]
                    if argstr.strip() else [])
            if len(args) != len(params):
                raise ValueError(
                    f"{name} expects {len(params)} args, got {len(args)}"
                )
            # two-phase substitution: parameters first swap to opaque
            # placeholders, THEN placeholders swap to arguments — a
            # sequential pass re-substituted an argument that happened
            # to equal a LATER parameter name (f(y, 2) with params
            # (x, y) clobbered the y argument).  Replacements are
            # inserted verbatim, backslashes included.
            ph = {p: f"\x00tparam{i}\x00" for i, p in enumerate(params)}
            for p in params:
                body = sqltext.sub(rf"\b{re.escape(p)}\b", ph[p], body)
            for p, a in zip(params, args):
                body = body.replace(ph[p], a)
            # the body joins the statement after its dialect pass
            return f"({_dialect(body)})"

        return sqltext.sub(r"table\(\s*(\w+)\s*\(([^()]*)\)\s*\)", repl,
                           query, re.I)

    def promote_folder_dataset(self, name: str, path: str) -> int:
        """Format a folder of parquet files as a named physical dataset
        (the reference's folder auto-promotion: a dataset's metadata —
        here the file listing — is captured once and served from the
        namespace, NOT re-listed per query; `REFRESH DATASET` is the
        only thing that picks up new/removed files).  Returns the number
        of files pinned.  Scale note: per-query directory listing of a
        100k-file dataset is exactly what the reference's metadata cache
        avoids; pinning the listing also makes results stable while a
        writer is mid-append."""
        files = self._list_dataset_files(path)
        if not files:
            raise FileNotFoundError(f"no parquet files under {path}")
        self._datasets[name] = {"path": path, "files": files}
        self._register_dataset_view(name)
        return len(files)

    def _list_dataset_files(self, path: str) -> list[str]:
        import os

        if os.path.isfile(path):
            return [path]
        out = []
        for root, _, fns in os.walk(path):
            out.extend(os.path.join(root, fn) for fn in fns
                       if fn.endswith(".parquet"))
        return sorted(out)

    def _register_dataset_view(self, name: str) -> None:
        ds = self._datasets[name]
        (self.spark.read.parquet(*ds["files"])
         .createOrReplaceTempView(name))

    def refresh_dataset(self, name: str) -> dict | None:
        """REFRESH DATASET (Parser.tdd, `SqlRefreshDataset`): re-list a
        promoted folder dataset's files and swap the pinned metadata —
        returns {"added": n, "removed": n}.  For plain catalog tables,
        falls back to invalidating Spark's cached file listing."""
        ds = self._datasets.get(name)
        if ds is None:
            self.spark.catalog.refreshTable(name)
            return None
        fresh = self._list_dataset_files(ds["path"])
        old = set(ds["files"])
        ds["files"] = fresh
        self._register_dataset_view(name)
        if fresh != sorted(old):
            # base-table commit: dependents go stale and auto-refresh
            # before the next substitution (ReflectionServiceImpl's
            # dependency-driven refresh)
            self._mark_reflections_stale(name)
        return {"added": len(set(fresh) - old),
                "removed": len(old - set(fresh))}

    # -- reflection freshness (dependency-driven refresh) --------------------
    # Reference: ReflectionServiceImpl tracks dataset->reflection
    # dependencies (sys.dependencies here) and refreshes dependents when
    # the base dataset commits.  The engine mirrors that: any commit
    # signal on a named dataset marks every reflection whose star
    # touches it stale; stale reflections refresh (watermark-incremental
    # when declared, full rebuild otherwise) before the next
    # substitution attempt.  ALTER SESSION SET
    # "spark.dremio.reflections.autoRefresh" = false keeps serving the
    # stale materialization (the reference's TTL-tolerant mode) and
    # surfaces STALE in sys.reflections instead.
    _AUTO_REFRESH_KEY = "spark.dremio.reflections.autoRefresh"

    def _register_path_reflection_view(self, path: str) -> str:
        """Canonical `__plake_<digest>` temp view over a lake path, for
        reflections anchored on PHYSICAL datasets.  The view snapshot is
        only read at reflection build/refresh time (re-registered fresh
        then) and during acceleration probes for its SCHEMA — serving an
        unaccelerated query still goes through `_expand_lake_refs`."""
        import hashlib

        p = os.path.normpath(path)
        view = f"__plake_{hashlib.md5(p.encode()).hexdigest()[:10]}"
        codec_of(p).read(self.spark, p).createOrReplaceTempView(view)
        self._path_refl_views = getattr(self, "_path_refl_views", {})
        self._refl_view_paths = getattr(self, "_refl_view_paths", {})
        self._path_refl_views[p] = view
        self._refl_view_paths[view] = p
        return view

    def _lake_head_version(self, path: str):
        return codec_of(path).at(self.spark, path, None).version

    def _mark_reflections_stale(self, dataset: str) -> int:
        store = getattr(self, "_refl_store", None)
        if store is None:
            return 0
        n = 0
        for refl in store._reflections.values():
            if refl.table == dataset or any(
                    js.dim_table == dataset for js in refl.joins):
                refl.stale = True
                n += 1
        for rr in store._raw.values():
            if rr.table == dataset:
                rr.stale = True
                n += 1
        return n

    def _auto_refresh_enabled(self) -> bool:
        try:
            return self.spark.conf.get(
                self._AUTO_REFRESH_KEY, "true").lower() != "false"
        except Exception:  # noqa: BLE001 — conf access never fatal
            return True

    def _refl_routing_map(self) -> dict:
        """dataset/space name -> (scope, 'queue'|'engine', target)."""
        r = getattr(self, "_refl_routing", None)
        if r is None:
            r = self._refl_routing = {}
        return r

    def _workload(self):
        wm = getattr(self, "_workload_mgr", None)
        if wm is None:
            from .plans.workload import WorkloadManager

            wm = self._workload_mgr = WorkloadManager(self.spark)
        return wm

    def _route_for(self, dataset: str) -> tuple | None:
        """Resolve the routing entry for a dataset: exact dataset match
        first, then any space/folder prefix (dotted or flat form)."""
        routing = self._refl_routing_map()
        got = routing.get(dataset)
        if got is not None and got[0] == "dataset":
            return got
        for key, ent in routing.items():
            if ent[0] != "prefix":
                continue
            if (dataset.startswith(f"{key}.")
                    or dataset.startswith(f"{key}__")):
                return ent
        return None

    def sys_reflection_routing(self) -> DataFrame:
        """sys.reflection_routing: where each dataset's reflection
        maintenance jobs run (SqlAlterDatasetReflectionRouting state)."""
        wm = self._workload()
        rows = []
        for key, (scope, kind, target) in sorted(
                self._refl_routing_map().items()):
            pool = (wm.queues[target].pool if kind == "queue"
                    else f"engine_{target}")
            rows.append((key, scope, kind, target, pool))
        return self._local_df(
            rows or [("", "", "", "", "")],
            "dataset string, scope string, route_type string, "
            "target string, scheduler_pool string").where("dataset <> ''")

    def _refresh_stale_reflection(self, refl) -> None:
        route = self._route_for(refl.table)
        if route is not None:
            # routed maintenance: the refresh's Spark jobs run in the
            # routed queue's scheduler pool (with its admission slot)
            # or the engine's dedicated pool
            _scope, kind, target = route
            sc = self.spark.sparkContext
            if kind == "queue":
                with self._workload().admit_to(target):
                    self.last_refresh_route = (
                        refl.name, target,
                        sc.getLocalProperty("spark.scheduler.pool"))
                    return self._refresh_unrouted(refl)
            prev = sc.getLocalProperty("spark.scheduler.pool")
            sc.setLocalProperty("spark.scheduler.pool", f"engine_{target}")
            try:
                self.last_refresh_route = (refl.name, target,
                                           f"engine_{target}")
                return self._refresh_unrouted(refl)
            finally:
                sc.setLocalProperty("spark.scheduler.pool", prev)
        return self._refresh_unrouted(refl)

    def _refresh_unrouted(self, refl) -> None:
        store = self._default_refl_store()
        p = getattr(self, "_refl_view_paths", {}).get(refl.table)
        if p is not None:
            return self._refresh_path_reflection(store, refl, p)
        base = self._resolve_table(refl.table)
        joins = getattr(refl, "joins", ())
        dims = {js.dim_table: self._resolve_table(js.dim_table)
                for js in joins} or None
        if getattr(refl, "watermark_col", None):
            if refl.name in store._raw:
                # append-based raw incremental: new rows append as new
                # files; existing files never rewrite
                store.incremental_refresh_raw(refl.name, base)
                return
            # the existing incremental machinery: only rows past the
            # watermark re-aggregate and merge into the partials
            src = store._join_star(base, joins, dims)
            store.incremental_refresh(refl.name, src)
            refl.stale = False
        else:
            store.rebuild(refl.name, base, dims)

    def _fold_blocker(self, refl, path: str) -> str | None:
        """Why a path reflection's refresh cannot fold the table's change
        rows (None: it can).  The fold needs signable measures
        (SUM/COUNT with a COUNT(*)), one table, a base version, and a
        change source: Iceberg derives one from its snapshots, Delta
        needs `delta.enableChangeDataFeed`."""
        from .plans.reflections import unsignable_reason

        if getattr(refl, "joins", ()) or not hasattr(refl, "measures"):
            return "not an aggregate over one table"
        reason = unsignable_reason(refl.measures)
        if reason is not None:
            return reason
        if refl.base_version is None:
            return "no base version"
        codec = codec_of(path)
        if (codec.name == "delta"
                and not codec.cdf(codec.at(self.spark, path, None))):
            return "delta.enableChangeDataFeed is not set"
        return None

    def _refresh_path_reflection(self, store, refl, path: str) -> None:
        """Commit-driven refresh of a path-anchored reflection: fold the
        CHANGE FEED since base_version when `_fold_blocker` finds
        nothing in the way (the CDC-maintained materialization path),
        else a shape-preserving full rebuild from the table head.
        `refresh_mode` and `refresh_reason` record which ran and why
        (sys.reflections shows both).  A fold that raises anyway (pruned
        history, ...) counts in `refresh_errors` and rebuilds, so
        freshness never depends on the fast path."""
        reason = self._fold_blocker(refl, path)
        if reason is None:
            try:
                if codec_of(path).name == "delta":
                    store.cdf_incremental_refresh(refl.name, path)
                else:
                    store.changelog_incremental_refresh(refl.name, path)
                refl.stale = False
                refl.refresh_mode, refl.refresh_reason = "incremental", None
                return
            except Exception as e:  # noqa: BLE001 — counted, then rebuilt
                refl.refresh_errors += 1
                reason = f"{type(e).__name__}: {e}"
        self._register_path_reflection_view(path)  # fresh file list
        joins = getattr(refl, "joins", ())
        dims = {js.dim_table: self._resolve_table(js.dim_table)
                for js in joins} or None
        store.rebuild(refl.name, self.spark.table(refl.table), dims)
        refl.base_version = self._lake_head_version(path)
        refl.stale = False
        refl.refresh_mode, refl.refresh_reason = "full", reason

    def _refresh_if_stale(self, refl) -> bool:
        """Refresh a reflection a matcher is considering when it is
        commit-stale (or time-DUE under `autoRefreshDue`), and say
        whether it may answer.  Fail-safe contract: a refresh that
        RAISES (base path deleted, dim view dropped, column dropped from
        under it, ...) marks the reflection INVALID and refuses it, so
        the query plans normally (and surfaces the real error) instead
        of serving the stale materialization; REFRESH REFLECTION or a
        later successful refresh clears the quarantine.  With
        auto-refresh off, a stale reflection keeps answering."""
        store = self._refl_store
        # time-DUE refresh is OPT-IN (the reference refreshes due
        # reflections from a background scheduler, never inline — the
        # default here matches: DUE keeps serving until REFRESH
        # REFLECTIONS or expiry; the conf trades first-query latency
        # for inline freshness where no scheduler exists)
        due = refl.stale or (store.is_due(refl) and str(self.spark.conf.get(
            "spark.dremio.reflections.autoRefreshDue",
            "false")).lower() == "true")
        if not (due and self._auto_refresh_enabled()):
            return True
        try:
            self._refresh_stale_reflection(refl)
        except Exception:  # noqa: BLE001 — quarantine, don't raise
            refl.invalid = True
            return False
        refl.stale = False
        refl.invalid = False
        store._stamp(refl)
        return True

    def clear_all_materializations(self) -> int:
        """DevelopmentOptionsResource.clearMaterializations: mark EVERY
        reflection (agg AND raw) stale and rebuild INLINE, regardless
        of the background auto-refresh conf — an explicit admin action,
        so no query ever reads a cleared materialization.  Same
        quarantine contract as `_refresh_if_stale`: a broken
        rebuild marks the reflection invalid instead of raising."""
        store = getattr(self, "_refl_store", None)
        if store is None:
            return 0
        refls = (list(store._reflections.values())
                 + list(store._raw.values()))
        for r in refls:
            r.stale = True
        for r in refls:
            try:
                self._refresh_stale_reflection(r)
                r.stale = False
                r.invalid = False
                store._stamp(r)
            except Exception:  # noqa: BLE001 — quarantine, don't raise
                r.invalid = True
        return len(refls)

    # -- Hive UDF loading (plugins/hive-function-registry) ------------------
    def register_hive_udf(self, name: str, class_name: str, jar_path: str) -> None:
        """Load a Hive UDF class from a jar into the session function
        registry — Spark's `CREATE TEMPORARY FUNCTION ... USING JAR` is
        the native equivalent of the reference's Hive function registry
        (`plugins/hive-function-registry`).  Capability-gated: this
        sandbox ships no UDF jars, so a missing jar raises instead of
        deferring the failure to first call."""
        import os

        if not os.path.exists(jar_path):
            raise FileNotFoundError(
                f"Hive UDF jar not found: {jar_path} (no UDF jars in this "
                "environment; point jar_path at a real UDF bundle)"
            )
        self.spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name} AS "
            f"'{class_name}' USING JAR '{jar_path}'"
        )

    # -- SHOW / DESCRIBE statement surface (Parser.tdd:624-685) -------------
    def show_tables(self) -> DataFrame:
        return self.information_schema_tables().where("table_type = 'TABLE'")

    def show_views(self) -> DataFrame:
        return self.information_schema_tables().where("table_type = 'VIEW'")

    def show_schemas(self) -> DataFrame:
        """SHOW SCHEMAS: session databases + registered spaces."""
        from pyspark.sql import functions as F

        dbs = self.spark.sql("show databases").select(
            F.col("namespace").alias("schema_name"),
            F.lit("DATABASE").alias("schema_type"),
        )
        if not self.spaces:
            return dbs
        spaces = self._local_df(
            [(s, "SPACE") for s in sorted(self.spaces)],
            "schema_name string, schema_type string",
        )
        return dbs.unionByName(spaces)

    def describe_table(self, name: str) -> DataFrame:
        """DESCRIBE TABLE: column name/type/comment rows (native); lake
        paths resolve through the format readers, with partition columns
        noted in the comment field."""
        codec = codec_of(name) if os.sep in name else None
        if codec is not None:
            snap = codec.at(self.spark, name, None)
            parts = {src for src, _ in codec.partitioning(snap)}
            rows = [(f.name, f.dataType.simpleString(),
                     "partition key" if f.name in parts else None)
                    for f in snap.schema.fields]
            return self._local_df(
                rows, "col_name string, data_type string, comment string")
        if "." in name and name.split(".", 1)[0] in self.spaces:
            name = self._flat(*name.split(".", 1))
        return self.spark.sql(f"describe table {name}")

    def _iceberg_refs(self, table_path: str, kind: str) -> list[tuple]:
        """(name, snapshot id) of each `kind` ref in an Iceberg table's
        refs map; any other path raises."""
        import json

        from .sources.iceberg import _metadata_file

        if not self._is_iceberg(table_path):
            raise ValueError(f"not an Iceberg table: {table_path}")
        with open(_metadata_file(table_path)) as f:
            refs = json.load(f).get("refs") or {}
        return [(n, str(r["snapshot-id"])) for n, r in sorted(refs.items())
                if r.get("type") == kind]

    def show_branches(self, table_path: str) -> DataFrame:
        """SHOW BRANCHES IN '<table_path>': the Iceberg refs map."""
        return self._local_df(
            self._iceberg_refs(table_path, "branch"),
            "branch_name string, snapshot_id string"
        )

    def show_tags(self, table_path: str) -> DataFrame:
        """SHOW TAGS IN '<table_path>': the Iceberg refs map."""
        return self._local_df(
            self._iceberg_refs(table_path, "tag"),
            "tag_name string, snapshot_id string"
        )

    def show_functions(self) -> DataFrame:
        """SHOW FUNCTIONS: built-ins + registered shims (native)."""
        register_all(self.spark)
        return self.spark.sql("show functions")

    # dialect-level functions handled by engine REWRITES or Column
    # helpers rather than registry entries — surfaced to the SQL editor
    # with signatures (FunctionsListService.java:66 serves exactly this
    # metadata for autocomplete/docs/side panel)
    _DIALECT_FUNCTIONS: list[tuple[str, list[tuple[str, str]], str, str]] = [
        ("NDV", [("expression", "ANY")], "BIGINT",
         "Approximate distinct count (DremioSqlOperatorTable.java:76); "
         "rewrites to approx_count_distinct"),
        ("FLATTEN", [("list_expression", "LIST")], "ANY",
         "Unnest a list column to one row per element "
         "(SqlFlattenOperator.java); rewrites to explode"),
        ("TDIGEST_QUANTILE", [("quantile", "DOUBLE"),
                              ("expression", "NUMERIC")], "DOUBLE",
         "Approximate quantile; rewrites to percentile_approx"),
        ("HLL", [("expression", "ANY")], "BINARY",
         "HyperLogLog sketch aggregate (HyperLogLog.java); rewrites to "
         "hll_sketch_agg"),
        ("HLL_MERGE", [("sketch", "BINARY")], "BINARY",
         "Merge HLL sketches; rewrites to hll_union_agg"),
        ("HLL_DECODE", [("sketch", "BINARY")], "BIGINT",
         "Estimate an HLL sketch; rewrites to hll_sketch_estimate"),
        ("CONVERT_FROM", [("expression", "BINARY|STRING"),
                          ("codec", "STRING literal")], "ANY",
         "Decode bytes per codec (exec/expr/fn/impl/conv/); JSON codec "
         "does plan-time schema discovery"),
        ("CONVERT_TO", [("expression", "ANY"),
                        ("codec", "STRING literal")], "BINARY",
         "Encode a value per codec (exec/expr/fn/impl/conv/)"),
        ("CONVERT_TOJSON", [("expression", "ANY")], "STRING",
         "Render a value as JSON; rewrites to to_json"),
        ("TO_CHAR", [("expression", "DATE|TIME|TIMESTAMP|NUMERIC"),
                     ("format", "STRING")], "STRING",
         "Format with Dremio/Joda tokens (DateToCharFunctions.java); "
         "format shim in functions/datetime_fmt.py"),
        ("TO_DATE", [("expression", "STRING"),
                     ("format", "STRING")], "DATE",
         "Parse with Dremio/Joda tokens (DateFunctionsUtils.java)"),
    ]

    def functions_list(self, include_builtins: bool = False) -> list[dict]:
        """Function metadata for the SQL editor — name, signatures
        (parameters + return type), description — mirroring the
        reference's FunctionsListService.java:66 Response shape.  The
        dialect surface (SQL shims, pandas shims, rewrite-handled
        names) always carries full signatures; Spark built-ins are
        name-level entries, opt-in (the editor's autocomplete dictionary
        — per-name detail via DESCRIBE FUNCTION stays on demand)."""
        from .functions.shims import _PANDAS_SHIMS, _SQL_FUNCTIONS

        out: list[dict] = []
        for name, sig in sorted(_SQL_FUNCTIONS.items()):
            m = re.match(r"\s*\((.*?)\)\s*RETURNS\s+(\w+)", sig, re.S)
            params = []
            if m and m.group(1).strip():
                for p in sqltext.split_top_level(m.group(1)):
                    pn, _, pt = p.strip().partition(" ")
                    params.append({"name": pn,
                                   "type": (pt.strip() or "ANY").upper()})
            out.append({
                "name": name.upper(), "origin": "sql-shim",
                "signatures": [{"parameters": params,
                                "returnType": (m.group(2).upper()
                                               if m else "ANY")}],
                "description": "Dremio dialect function (Catalyst-"
                               "inlined SQL shim, functions/shims.py)"})
        pandas_sigs = {
            "st_geohash": ([("lat", "DOUBLE"), ("lon", "DOUBLE"),
                            ("precision", "INT")], "STRING"),
            "normalize_string": ([("expression", "STRING")], "STRING"),
        }
        for name in sorted(_PANDAS_SHIMS):
            params, ret = pandas_sigs.get(
                name, ([("expression", "BINARY" if "_to" not in name
                         else "BIGINT")],
                       "BIGINT" if "_from" in name else "BINARY"))
            out.append({
                "name": name.upper(), "origin": "pandas-shim",
                "signatures": [{"parameters": [
                    {"name": n, "type": t} for n, t in params],
                    "returnType": ret}],
                "description": "Arrow-batched pandas UDF shim "
                               "(functions/shims.py)"})
        for name, params, ret, desc in self._DIALECT_FUNCTIONS:
            out.append({
                "name": name, "origin": "dialect-rewrite",
                "signatures": [{"parameters": [
                    {"name": n, "type": t} for n, t in params],
                    "returnType": ret}],
                "description": desc})
        if include_builtins:
            have = {f["name"] for f in out}
            for fn in self.spark.catalog.listFunctions():
                if fn.name.upper() in have:
                    continue
                out.append({"name": fn.name.upper(), "origin": "spark",
                            "signatures": [],
                            "description": fn.description or ""})
        out.sort(key=lambda f: f["name"])
        return out

    AUTOCOMPLETE_MAX = 50  # reference caps suggestion lists

    def autocomplete_suggestions(self, prefix: str = "",
                                 kind: str = "CONTAINER",
                                 keys: list[list[str]] | None = None
                                 ) -> dict:
        """SQL-editor autocomplete (`SQLResource.java:111` POST
        /sql/autocomplete via AutocompleteProxy.java:60-98): CONTAINER
        suggests tables/spaces/VDS under the given context keys, COLUMN
        suggests a table's columns with types, REFERENCE suggests a
        versioned source's branches/tags.  Pure catalog metadata —
        nothing scans data."""
        p = (prefix or "").lower()
        keys = keys or [[]]
        out: list[dict] = []
        kind = kind.upper()
        if kind == "CONTAINER":
            for key in keys:
                if not key:  # top level: tables + spaces + sources
                    for r in self.information_schema_tables().collect():
                        if r["table_name"].lower().startswith(p):
                            out.append({"name": r["table_name"],
                                        "path": [r["table_name"]],
                                        "type": r["table_type"]})
                    for s in self.spaces:
                        if s.lower().startswith(p):
                            out.append({"name": s, "path": [s],
                                        "type": "SPACE"})
                    for s in (set(self._versioned_sources)
                              | set(self._sources)):
                        if s.lower().startswith(p):
                            out.append({"name": s, "path": [s],
                                        "type": "SOURCE"})
                elif key[0] in self._sources:
                    for t in self.list_dir_source_tables(key[0]):
                        if t.lower().startswith(p):
                            out.append({"name": t, "path": [key[0], t],
                                        "type": "TABLE"})
                elif key[0] in self.spaces:
                    for v in self.spaces[key[0]].vds:
                        if v.lower().startswith(p):
                            out.append({"name": v, "path": [key[0], v],
                                        "type": "VIRTUAL_DATASET"})
                elif key[0] in self._versioned_sources:
                    from .sources import dataplane as dp
                    root = self._versioned_sources[key[0]]
                    for t in sorted(dp.state_at(root)):
                        if t.lower().startswith(p):
                            out.append({"name": t, "path": [key[0], t],
                                        "type": "TABLE"})
        elif kind == "COLUMN":
            for key in keys:
                name = ".".join(key)
                try:
                    schema = self.table(name).schema
                except Exception:  # noqa: BLE001 — unknown table: skip
                    continue
                for f in schema.fields:
                    if f.name.lower().startswith(p):
                        out.append({"name": f.name, "path": key + [f.name],
                                    "type": "COLUMN",
                                    "columnType":
                                        f.dataType.simpleString()})
        elif kind == "REFERENCE":
            from .sources import dataplane as dp
            for key in keys:
                root = self._versioned_sources.get(key[0] if key else "")
                if root is None:
                    continue
                refs = dp._load_refs(root)
                for b in sorted(refs["branches"]):
                    if b.lower().startswith(p):
                        out.append({"name": b, "path": key + [b],
                                    "type": "BRANCH"})
                for t in sorted(refs.get("tags", ())):
                    if t.lower().startswith(p):
                        out.append({"name": t, "path": key + [t],
                                    "type": "TAG"})
        else:
            raise ValueError(f"unknown autocomplete type {kind!r}")
        out.sort(key=lambda s: (s["name"], s["type"]))
        return {"suggestionsType": kind, "count": len(out),
                "maxCount": self.AUTOCOMPLETE_MAX,
                "suggestions": out[:self.AUTOCOMPLETE_MAX]}

    def show_create_vds(self, space: str, name: str) -> DataFrame:
        """SHOW CREATE VIEW space.name: reconstructed DDL from the stored
        SQL (VDS = stored SQL, dataset.proto:60)."""
        sql = self.spaces[space].vds[name]
        ddl = f"CREATE VDS {space}.{name} AS {sql.strip()}"
        return self._local_df(
            [(f"{space}.{name}", ddl)], "view_name string, ddl string"
        )

    def show_create_table(self, path: str) -> DataFrame:
        """SHOW CREATE TABLE '<path>' (SqlShowCreate,
        parserImpls.ftl:1834): reconstructed DDL for a lake table —
        column list from the current snapshot's schema, partition spec
        (Iceberg transforms rendered as written), and table
        properties."""
        codec = self._lake_codec(path)
        snap = codec.at(self.spark, path, None)
        part = [field for _, field in codec.partitioning(snap)]
        props = codec.properties(snap)
        cols = ", ".join(f"{f.name} {f.dataType.simpleString().upper()}"
                         for f in (snap.schema.fields if snap.schema
                                   else []))
        ddl = f"CREATE TABLE '{path}' ({cols}) USING {codec.name.upper()}"
        if part:
            ddl += f" PARTITIONED BY ({', '.join(part)})"
        if props:
            kv = ", ".join(f"'{k}' = '{v}'"
                           for k, v in sorted(props.items()))
            ddl += f" TBLPROPERTIES ({kv})"
        return self._local_df(
            [(path, ddl)], "table_name string, ddl string")

    def show_table_properties(self, table_path: str) -> DataFrame:
        """SHOW TBLPROPERTIES (SqlShowTableProperties, parserImpls.ftl):
        format/location plus a lake table's own properties."""
        props: list[tuple[str, str]] = [
            ("format", "parquet"),
            ("location", table_path),
        ]
        codec = codec_of(table_path)
        if codec is not None:
            props += sorted(codec.properties(
                codec.at(self.spark, table_path, None)).items())
        return self._local_df(
            props, "property string, value string"
        )

    def describe_function(self, name: str) -> DataFrame:
        """DESCRIBE FUNCTION (SqlDescribeFunction): a shim's SQL body, or
        the native catalog description."""
        from .functions.shims import _SQL_FUNCTIONS

        if name in _SQL_FUNCTIONS:
            return self._local_df(
                [(name, "sql_shim", _SQL_FUNCTIONS[name])],
                "function string, kind string, body string",
            )
        desc = " | ".join(
            r[0] for r in self.spark.sql(f"describe function {name}").collect()
        )
        return self._local_df(
            [(name, "native", desc)], "function string, kind string, body string"
        )

    def alter_engine(
        self,
        name: str,
        min_replicas: int | None = None,
        max_replicas: int | None = None,
    ) -> None:
        """ALTER ENGINE <name> SET MIN_REPLICAS/MAX_REPLICAS
        (SqlAlterEngine, parserImpls.ftl): record autoscaling bounds for a
        named execution engine.  Locally there's one JVM, so this is pure
        registry state — but the bounds are validated and queryable via
        sys_engines(), matching the reference's statement semantics."""
        e = dict(
            self._engines.get(
                name, {"min_replicas": 0, "max_replicas": 1, "state": "RUNNING"}
            )
        )
        if min_replicas is not None:
            e["min_replicas"] = int(min_replicas)
        if max_replicas is not None:
            e["max_replicas"] = int(max_replicas)
        if e["min_replicas"] > e["max_replicas"]:
            raise ValueError(
                f"engine {name}: min_replicas {e['min_replicas']} > "
                f"max_replicas {e['max_replicas']}"
            )
        self._engines[name] = e

    def sys_engines(self) -> DataFrame:
        """sys.engines companion view for alter_engine state."""
        rows = [
            (n, e["min_replicas"], e["max_replicas"], e["state"])
            for n, e in sorted(self._engines.items())
        ] or [("default", 0, 1, "RUNNING")]
        return self._local_df(
            rows,
            "engine string, min_replicas int, max_replicas int, state string",
        )

    def use(self, schema: str) -> None:
        """USE <schema>: current-namespace context for bare-name lookups
        (native database, or a registered space)."""
        if schema in self.spaces:
            self._current_space = schema
            return
        # switching to a NATIVE database leaves the space context —
        # stale space VDSs must not keep shadowing bare names
        self._current_space = None
        self.spark.catalog.setCurrentDatabase(schema)

    def explain(self, query: str, mode: str = "formatted") -> str:
        """EXPLAIN surface (reference: EXPLAIN / EXPLAIN JSON,
        Parser.tdd): returns the plan text for a SQL string.  mode
        'json' serializes the optimized logical plan as JSON, like the
        reference's EXPLAIN JSON output."""
        df = self.sql(query)
        qe = df._jdf.queryExecution()
        # the reference's job profile names the reflection a query was
        # accelerated by; surface the same fact on the plan text
        accel = ""
        if getattr(self, "last_plan_accelerated", None):
            accel = (f"-- accelerated by reflection: "
                     f"{self.last_plan_accelerated}\n")
        if mode == "json":
            return qe.optimizedPlan().toJSON()
        if mode == "formatted":
            return accel + qe.explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
        return accel + qe.toString()

    def _ensure_shims(self, query: str) -> None:
        """Register exactly the shims the statement references — the full
        table is ~65 sequential DDL round-trips (~4 s on a fresh
        session); a typical statement needs 0-3 of them."""
        from .functions.shims import _PANDAS_SHIMS, _SQL_FUNCTIONS

        q = query.lower()
        found = {n for n in _SQL_FUNCTIONS if n in q}
        found |= {n for n in _PANDAS_SHIMS if n in q}
        if found:
            register_all(self.spark, names=found)

    # -- lakehouse DML statements (Delta / Iceberg table paths) ------------
    @staticmethod
    def _lake_codec(path: str):
        """The codec of the lake table at `path`; any other path
        raises."""
        codec = codec_of(path)
        if codec is None:
            raise ValueError(f"not a lakehouse table: {path}")
        return codec

    @staticmethod
    def _is_iceberg(path: str) -> bool:
        """Whether `path` is an Iceberg table: the branch and tag
        statements read its refs map, which Delta has no twin of."""
        codec = codec_of(path)
        return codec is not None and codec.name == "iceberg"

    def _status(self, operation: str, detail) -> DataFrame:
        return self._local_df(
            [(operation, str(detail))], "operation string, result string")

    @staticmethod
    def _assignments(sets: str) -> dict[str, str]:
        """An UPDATE/MERGE SET list, `a = e1, s.b = e2`, as
        {"a": "e1", "b": "e2"}."""
        return {c.strip().split(".")[-1]: e.strip() for c, _, e in
                (p.partition("=") for p in sqltext.split_top_level(sets))}

    @staticmethod
    def _column_defs(cols: str) -> dict[str, str]:
        """ADD COLUMNS' `(a int, b decimal(10,2))` as {name: type}."""
        return {n: t.strip() for n, _, t in
                (p.strip().partition(" ")
                 for p in sqltext.split_top_level(cols))}

    @staticmethod
    def _optimize_options(opts: str | None) -> dict[str, float] | None:
        """OPTIMIZE's `(MIN_INPUT_FILES=5, TARGET_FILE_SIZE_MB=256, …)`:
        ParseOptimizeOptions' four names, validated."""
        if not opts:
            return None
        options = {}
        for item in sqltext.split_top_level(opts):
            k, _, v = item.partition("=")
            k = k.strip().lower()
            if k not in ("min_input_files", "target_file_size_mb",
                         "min_file_size_mb", "max_file_size_mb"):
                raise ValueError(f"unknown OPTIMIZE option {k!r}")
            options[k] = float(v)
        return options

    # MERGE after its target (SqlMergeIntoTable): USING a view name, a
    # quoted lake path or a parenthesized subquery, with an optional
    # alias that qualifies source columns (default `s`), then ON and the
    # grammar's three clause shapes: matched-only, insert-only, or both
    _MERGE_REST = (
        r"\s+using\s+"
        r"(?:'(?P<spath>[^']+)'|\((?P<subq>.+?)\)|(?P<sview>\w+))"
        r"(?:\s+(?:as\s+)?(?!on\b)(?P<alias>\w+))?\s+"
        r"on\s+(?P<cond>.+?)\s+"
        r"(?:when\s+matched\s+then\s+update\s+set\s+(?P<sets>.+?))?"
        r"(?:\s*when\s+not\s+matched\s+then\s+insert\s+(?P<ins>\*))?"
        r"\s*$")

    def _merge_args(self, m: sqltext.Match) -> dict:
        """Source frame, join keys and clause flags of a MERGE matched
        with `_MERGE_REST` (`SET *` takes every source column)."""
        spath, sets = m.group("spath"), m.group("sets")
        codec = codec_of(spath) if spath is not None else None
        if spath is None:
            source = (self.sql(m.group("subq"))
                      if m.group("subq") is not None
                      else self.spark.table(m.group("sview")))
        elif codec is not None:
            source = codec.read(self.spark, spath)
        else:  # a plain parquet dir/file source
            source = self.spark.read.parquet(spath)
        return {"source": source,
                "on": [k.split("=")[0].strip().split(".")[-1] for k in
                       sqltext.split(r"\band\b", m.group("cond"), re.I)],
                "update_set": (None if sets is None or sets.strip() == "*"
                               else self._assignments(sets)),
                "insert_not_matched": m.group("ins") is not None,
                "update_matched": sets is not None}

    def _lake_statement(self, query: str) -> DataFrame | None:
        """SQL forms of the lakehouse DML surface on quoted table paths:
        DELETE FROM / UPDATE / MERGE INTO / OPTIMIZE TABLE /
        VACUUM TABLE / ALTER TABLE ADD COLUMNS|DROP COLUMN.
        Reference statement surface: dremio-oss DML on Iceberg tables
        (`UpdateHandler`, `MergeHandler`, `OptimizeHandler`,
        `VacuumTableHandler`, parser entries in `parserImpls.ftl`)."""
        from .sources import lake_dml

        m = re.match(
            r"\s*create\s+table\s+'([^']+)'"
            r"(?:\s+store\s+as\s*\(\s*type\s*=>\s*'(\w+)'\s*\))?"
            r"(?:\s+partition\s+by\s*\((.*?)\))?"
            r"\s+as\s+(.+)$",
            query, re.I | re.S)
        if m:
            path, fmt, parts, select = (
                m.group(1), (m.group(2) or "delta").lower(),
                m.group(3), m.group(4))
            part_by = ([p.strip() for p in sqltext.split_top_level(parts)]
                       if parts else None)
            codec = lake_dml.codec(fmt)
            out = codec.write(self.spark, self.sql(select), path,
                              mode="overwrite", partition_by=part_by)
            return self._status("CREATE TABLE AS SELECT", out)

        m = re.match(
            r"\s*insert\s+into\s+'([^']+)'\s+(select\s.+)$",
            query, re.I | re.S)
        if m:
            path, select = m.group(1), m.group(2)
            codec = codec_of(path)
            if codec is None:
                return None
            df = self.sql(select)
            fields = codec.at(self.spark, path, None).schema.fields
            if len(df.columns) != len(fields):
                raise ValueError(
                    f"INSERT arity {len(df.columns)} != table {len(fields)}")
            # SQL INSERT semantics: columns align by position, and a
            # column of another type casts to the table's where Spark's
            # ANSI store assignment allows it; any other mismatch
            # reaches the writer's type check and raises
            df = df.toDF(*[f.name for f in fields])

            def assignable(src, dst) -> bool:
                parse = self.spark._jsparkSession.parseDataType
                return (self.spark._jvm.org.apache.spark.sql.catalyst
                        .expressions.Cast.canANSIStoreAssign(
                            parse(src.json()), parse(dst.json())))
            casts = {f.name: f.dataType
                     for f, have in zip(fields, df.schema.fields)
                     if have.dataType != f.dataType
                     and assignable(have.dataType, f.dataType)}
            if casts:
                df = df.select(*[F.col(c).cast(casts[c]).alias(c)
                                 if c in casts else c for c in df.columns])
            return self._status(
                "INSERT INTO", codec.write(self.spark, df, path,
                                           mode="append"))

        m = re.match(
            r"\s*delete\s+from\s+'([^']+)'(?:\s+where\s+(.+?))?\s*$",
            query, re.I | re.S)
        if m:
            path, pred = m.group(1), m.group(2) or "true"
            codec = codec_of(path)
            if codec is None:
                return None
            return self._status("DELETE", lake_dml.delete(
                codec, self.spark, path, pred))

        m = sqltext.match(
            r"\s*update\s+'([^']+)'\s+set\s+(.+?)(?:\s+where\s+(.+?))?\s*$",
            query, re.I | re.S)
        if m:
            path, sets, pred = m.group(1), m.group(2), m.group(3) or "true"
            codec = codec_of(path)
            if codec is None:
                return None
            return self._status("UPDATE", lake_dml.update(
                codec, self.spark, path,
                self._assignments(sets), pred))

        m = sqltext.match(r"\s*merge\s+into\s+'([^']+)'" + self._MERGE_REST,
                          query, re.I | re.S)
        if m and (m.group("sets") is not None or m.group("ins")):
            codec = codec_of(m.group(1))
            if codec is None:
                return None
            return self._status("MERGE", lake_dml.merge(
                codec, self.spark, m.group(1),
                alias=m.group("alias") or "s", **self._merge_args(m)))

        m = re.match(r"\s*truncate\s+(?:table\s+)?'([^']+)'\s*$",
                     query, re.I)
        if m:
            # SqlTruncateTable: metadata-only delete-all commit
            path = m.group(1)
            codec = codec_of(path)
            if codec is None:
                return None
            return self._status("TRUNCATE TABLE", lake_dml.truncate(
                codec, self.spark, path))

        m = re.match(
            r"\s*rollback\s+table\s+'([^']+)'\s+to\s+snapshot\s+"
            r"'?(\d+)'?\s*$", query, re.I)
        if m:
            path, snap = m.group(1), int(m.group(2))
            codec = codec_of(path)
            if codec is None:
                return None
            return self._status("ROLLBACK", lake_dml.rollback(
                codec, self.spark, path, snap))

        m = re.match(r"\s*optimize\s+table\s+'([^']+)'"
                     r"\s+rewrite\s+manifests\s*$", query, re.I)
        if m:
            # metadata-only arm (parserImpls.ftl OPTIMIZE REWRITE
            # MANIFESTS): Iceberg re-consolidates manifests; Delta's
            # analog is materializing a checkpoint
            path = m.group(1)
            codec = codec_of(path)
            if codec is None:
                return None
            return self._status("OPTIMIZE REWRITE MANIFESTS",
                                codec.rewrite_manifests(self.spark, path))

        m = re.match(r"\s*optimize\s+table\s+'([^']+)'"
                     r"(?:\s+rewrite\s+data\s+using\s+bin_pack)?"
                     r"(?:\s+for\s+partitions\s+(.+?))?"
                     r"(?:\s+zorder\s+by\s*\(([^)]+)\))?"
                     r"(?:\s*\(([^)]*=[^)]*)\))?\s*$", query, re.I)
        if m:
            path, where, zcols, opts = (m.group(1), m.group(2),
                                        m.group(3), m.group(4))
            codec = codec_of(path)
            if codec is None:
                return None
            zorder_by = zcols and [c.strip() for c in zcols.split(",")]
            kind, _ = lake_dml.layout(
                codec.properties(codec.at(self.spark, path, None)),
                zorder_by)
            return self._status(
                "OPTIMIZE ZORDER" if kind == "zorder" else "OPTIMIZE",
                lake_dml.optimize(codec, self.spark, path, where=where,
                                  zorder_by=zorder_by,
                                  options=self._optimize_options(opts)))

        m = re.match(
            r"\s*vacuum\s+table\s+'([^']+)'"
            r"(?:\s+expire\s+snapshots"
            r"(?:\s+older_than\s*=?\s*'([^']+)')?"
            r"(?:\s+retain_last\s*=?\s*(\d+))?"
            r"|\s+(remove)\s+orphan\s+files"
            r"(?:\s+older_than\s*=?\s*'([^']+)')?)?\s*$", query, re.I)
        if m:
            # SqlVacuumTable (parserImpls.ftl:1306): EXPIRE SNAPSHOTS
            # [older_than='ts'] [retain_last=n] | REMOVE ORPHAN FILES
            # [older_than='ts'] — a bare VACUUM TABLE = default expire
            path = m.group(1)
            codec = codec_of(path)
            if codec is None:
                return None

            def _ms(s):
                import datetime as _dt
                if s is None:
                    return None
                return int(_dt.datetime.fromisoformat(s).timestamp()
                           * 1000)
            if m.group(4):  # REMOVE ORPHAN FILES
                out = lake_dml.remove_orphan_files(
                    codec, self.spark, path, _ms(m.group(5)))
                return self._status("VACUUM REMOVE ORPHAN FILES",
                                    f"{len(out)} files removed")
            out = lake_dml.vacuum(
                codec, self.spark, path, keep_last=int(m.group(3) or 1),
                older_than_ms=_ms(m.group(2)))
            return self._status("VACUUM", f"{len(out)} files removed")

        # VACUUM CATALOG '<root>' [RETAIN <n> SNAPSHOTS]: catalog-wide
        # snapshot expiry + orphan removal over every versioned table
        # under the source root in ONE statement (the reference's
        # VacuumCatalogHandler.java:63 over a Nessie source).  Branch/
        # tag-pinned Iceberg snapshots are protected by the per-table
        # expiry's ref check.
        m = re.match(
            r"\s*vacuum\s+catalog\s+'([^']+)'"
            r"(?:\s+retain\s+(\d+)\s+snapshots?)?\s*$", query, re.I)
        if m:
            return self.vacuum_catalog(
                m.group(1), keep_last=int(m.group(2) or 1))

        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+add\s+columns\s*"
            r"\((.+)\)\s*$", query, re.I | re.S)
        if m:
            path, cols = m.group(1), m.group(2)
            codec = codec_of(path)
            if codec is None:
                return None
            add = self._column_defs(cols)
            out = codec.alter(self.spark, path, add=add)
            return self._status("ALTER TABLE ADD COLUMNS", out)

        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+drop\s+column\s+(\w+)\s*$",
            query, re.I)
        if m:
            path, col = m.group(1), m.group(2)
            codec = codec_of(path)
            if codec is None:
                return None
            out = codec.alter(self.spark, path, drop=[col])
            return self._status("ALTER TABLE DROP COLUMN", out)

        # RENAME COLUMN c TO newname, and CHANGE/ALTER/MODIFY COLUMN c
        # newname newtype (SqlAlterTableChangeColumn, alter.ftl:152):
        # widening type promotion and/or rename; a rename keeps the type
        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+rename\s+column\s+"
            r"(\w+)\s+to\s+(\w+)()\s*$", query, re.I) or re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+(?:change|modify|alter)\s+"
            r"column\s+(\w+)\s+(\w+)\s+([\w(),]+)\s*$", query, re.I)
        if m:
            path, col, new_name, new_type = m.groups()
            codec = codec_of(path)
            if codec is None:
                return None
            out = codec.change_column(self.spark, path, col, new_name,
                                      new_type or None)
            if not new_type:
                return self._status("ALTER TABLE RENAME COLUMN",
                                    f"{col} -> {new_name} @ {out}")
            return self._status(
                "ALTER TABLE CHANGE COLUMN",
                f"{col} -> {new_name} {new_type} @ {out}")

        # SET/UNSET TBLPROPERTIES (SqlAlterTableProperties): the spec's
        # properties map; write.delete/update/merge.mode (Iceberg) and
        # delta.enableDeletionVectors (Delta) route later DML to the
        # merge-on-read paths
        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+set\s+tblproperties\s*"
            r"\((.+)\)\s*$", query, re.I | re.S)
        if m:
            path, body = m.groups()
            codec = codec_of(path)
            if codec is None:
                return None
            props: dict[str, str] = {}
            for part in sqltext.split_top_level(body):
                k, _, v = part.partition("=")
                props[k.strip().strip("'\"")] = v.strip().strip("'\"")
            codec.set_properties(self.spark, path, props)
            return self._status("ALTER TABLE SET TBLPROPERTIES",
                                ", ".join(sorted(props)))

        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+unset\s+tblproperties\s*"
            r"\((.+)\)\s*$", query, re.I | re.S)
        if m:
            path, body = m.groups()
            codec = codec_of(path)
            if codec is None:
                return None
            unset = {part.strip().strip("'\""): None
                     for part in sqltext.split_top_level(body)}
            codec.set_properties(self.spark, path, unset)
            return self._status("ALTER TABLE UNSET TBLPROPERTIES",
                                ", ".join(sorted(unset)))

        # -- remaining alter.ftl productions -------------------------------
        def _set_props(path: str, props: dict) -> bool:
            codec = codec_of(path)
            if codec is None:
                return False
            codec.set_properties(self.spark, path, props)
            return True

        # ALTER TABLE '<path>' ADD PRIMARY KEY (a, b) | DROP PRIMARY KEY
        # (SqlAlterTableAddPrimaryKey/Drop, alter.ftl:97-99): a declared
        # N:1 uniqueness hint — stored as a table property the way the
        # reference records identifier fields; surfaced by SHOW
        # TBLPROPERTIES, consumed by star-join soundness reasoning
        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+"
            r"(?:add\s+primary\s+key\s*\(([^)]*)\)"
            r"|(drop)\s+primary\s+key)\s*$", query, re.I)
        if m:
            cols = (None if m.group(3) else
                    ",".join(c.strip() for c in m.group(2).split(",")))
            if _set_props(m.group(1), {"dremio.primary_key": cols}):
                return self._status(
                    "ALTER TABLE PRIMARY KEY", cols or "dropped")
        # ALTER TABLE '<path>' LOCALSORT BY (a, b) | DROP LOCALSORT
        # (SqlAlterTableSortOrder, alter.ftl:275/:103): declared write
        # sort order — later OPTIMIZE runs apply it
        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+"
            r"(?:localsort\s+by\s*\(([^)]*)\)|(drop)\s+localsort)\s*$",
            query, re.I)
        if m:
            cols = (None if m.group(3) else
                    ",".join(c.strip() for c in m.group(2).split(",")))
            if _set_props(m.group(1), {"dremio.localsort": cols}):
                return self._status(
                    "ALTER TABLE LOCALSORT", cols or "dropped")
        # ALTER TABLE '<path>' CLUSTER BY (a, b) | DROP CLUSTERING KEY
        # (SqlAlterTableClusterKey, alter.ftl:280/:101): declared
        # multidimensional clustering — OPTIMIZE without an explicit
        # ZORDER uses it
        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+"
            r"(?:cluster\s+by\s*\(([^)]*)\)"
            r"|(drop)\s+clustering\s+key)\s*$", query, re.I)
        if m:
            cols = (None if m.group(3) else
                    ",".join(c.strip() for c in m.group(2).split(",")))
            if _set_props(m.group(1), {"dremio.cluster_by": cols}):
                return self._status(
                    "ALTER TABLE CLUSTER BY", cols or "dropped")
        # ALTER TABLE '<path>' ENABLE|DISABLE SCHEMA LEARNING
        # (SqlAlterTableToggleSchemaLearning) and ENABLE|DISABLE
        # APPROXIMATE STATS (SqlSetApprox — ANALYZE consults it: exact
        # NDV when approximation is disabled)
        m = re.match(
            r"\s*alter\s+table\s+'([^']+)'\s+(enable|disable)\s+"
            r"(schema\s+learning|approximate\s+stats)\s*$", query, re.I)
        if m:
            key = ("dremio.schema_learning"
                   if m.group(3).lower().startswith("schema")
                   else "dremio.approximate_stats")
            val = str(m.group(2).lower() == "enable").lower()
            if _set_props(m.group(1), {key: val}):
                return self._status("ALTER TABLE", f"{key} = {val}")
        # ALTER TABLE/DATASET <name|'path'> ENABLE|DISABLE RAW|AGGREGATE
        # ACCELERATION (SqlAccelToggle, alter.ftl:250): per-dataset
        # substitution gate — disabled kinds stop matching immediately
        m = re.match(
            r"\s*alter\s+(?:table|dataset|vds)\s+(?:'([^']+)'|([\w.]+))"
            r"\s+(enable|disable)\s+(raw|aggregate)\s+acceleration\s*$",
            query, re.I)
        if m:
            name = (self._register_path_reflection_view(m.group(1))
                    if m.group(1) else m.group(2))
            togg = getattr(self, "_accel_toggles", None)
            if togg is None:
                togg = self._accel_toggles = {}
            kind = "raw" if m.group(4).lower() == "raw" else "agg"
            togg.setdefault(name, {})[kind] = \
                m.group(3).lower() == "enable"
            return self._status(
                "ACCELERATION",
                f"{m.group(4).lower()} {m.group(3).lower()}d on {name}")
        # ALTER TABLE <name> FORGET METADATA (SqlForgetTable,
        # alter.ftl:200): unpromote a folder dataset — the name stops
        # resolving until re-promoted
        m = re.match(
            r"\s*alter\s+table\s+([\w.]+)\s+forget\s+metadata\s*$",
            query, re.I)
        if m and m.group(1) in getattr(self, "_datasets", {}):
            self._datasets.pop(m.group(1))
            self.spark.catalog.dropTempView(m.group(1))
            return self._status("FORGET METADATA", m.group(1))
        return None

    # -- metadata table functions (ref MetadataFunctionsMacro.java:36) -----
    def vacuum_catalog(self, root: str, keep_last: int = 1) -> DataFrame:
        """Walk `root` for versioned tables (Delta logs / Iceberg
        metadata dirs) and expire each in one pass — snapshot expiry for
        Iceberg (retaining `keep_last` + every branch/tag-pinned
        snapshot), unreferenced-file vacuum for Delta.  Returns one row
        per table: (table_path, format, files_removed).

        Reference: VACUUM CATALOG over a versioned source
        (`exec/planner/sql/handlers/query/VacuumCatalogHandler.java:63`)
        — the catalog-wide form of VACUUM TABLE.  Discovery is a
        directory walk here; against a real catalog service this is the
        table-listing API, and per-table expiry is embarrassingly
        parallel (independent tables, metadata-sized work each)."""
        from .sources import lake_dml

        rows: list[tuple[str, str, int]] = []
        for dirpath, dirnames, _ in os.walk(root):
            if os.path.basename(dirpath).startswith(
                    ("_delta_log", "metadata", "_change_data")):
                dirnames[:] = []
                continue
            codec = codec_of(dirpath)
            if codec is None:
                continue
            dirnames[:] = []  # a table is a leaf; don't recurse inside
            removed = lake_dml.vacuum(codec, self.spark,
                                      dirpath, keep_last=keep_last)
            rows.append((dirpath, codec.name, len(removed)))
        return self._local_df(
            rows, "table_path string, format string, files_removed int")

    def table_history(self, path: str) -> DataFrame:
        """TABLE(table_history('<path>')): one row per commit/snapshot."""
        rows = [(v, op, str(ts))
                for v, op, ts in self._lake_codec(path).history(path)]
        return self._local_df(
            rows, "snapshot_id long, operation string, committed_at string")

    def table_files(self, path: str) -> DataFrame:
        """TABLE(table_files('<path>')): live data files of the current
        snapshot with partition values and physical size."""
        import json as _json
        import os

        files = self._snap_files(path)
        rows = [
            (rel, _json.dumps(pv, sort_keys=True),
             os.path.getsize(os.path.join(path, rel))
             if os.path.exists(os.path.join(path, rel)) else None)
            for rel, pv in files
        ]
        return self._local_df(
            rows, "file_path string, partition string, size_bytes long")

    def table_snapshot(self, path: str) -> DataFrame:
        """TABLE(table_snapshot('<path>')): current snapshot summary."""
        codec = self._lake_codec(path)
        snap = codec.at(self.spark, path, None)
        return self._local_df(
            [(snap.version, codec.name, len(snap.files))],
            "snapshot_id long, format string, n_files long")

    def table_partitions(self, path: str) -> DataFrame:
        """TABLE(table_partitions('<path>')): file/row layout per
        partition tuple."""
        import json as _json
        from collections import Counter

        files = self._snap_files(path)
        counts = Counter(_json.dumps(pv, sort_keys=True)
                         for _, pv in files)
        return self._local_df(
            sorted(counts.items()), "partition string, n_files long")

    def table_manifests(self, path: str) -> DataFrame:
        """TABLE(table_manifests('<path>')): the metadata files behind
        the current state — Iceberg manifest-list/manifests, Delta JSON
        commits + checkpoints."""
        return self._local_df(
            self._lake_codec(path).manifests(path),
            "file_name string, kind string, size_bytes long")

    def _snap_files(self, path: str) -> list[tuple[str, dict]]:
        codec = self._lake_codec(path)
        # strip engine-internal partition-record extensions (__spec_id,
        # __seq): they are commit bookkeeping, and leaving __seq in would
        # split identical partition tuples by the commit that added each
        # file
        return [(rel, {k: v for k, v in pv.items() if not k.startswith("__")})
                for rel, pv in codec.files(path,
                                           codec.at(self.spark, path, None))]

    _META_FNS = ("table_history", "table_files", "table_snapshot",
                 "table_partitions", "table_manifests", "table_refs",
                 "copy_errors")

    def copy_errors(self, path: str) -> DataFrame:
        """TABLE(copy_errors('<target>')): COPY INTO error history —
        one row per rejected record with (job_id, file_name,
        raw_record, reason).  The reference's copy_errors table
        function (CopyErrorsMacro.java) over the copy-into errors
        store."""
        from .sources.writer import read_copy_errors

        return read_copy_errors(self.spark, path)

    def table_refs(self, path: str) -> DataFrame:
        """TABLE(table_refs('<path>')): branches and tags of an Iceberg
        table with their snapshot pointers (the refs map)."""
        rows = [(n, kind, s) for kind in ("branch", "tag")
                for n, s in self._iceberg_refs(path, kind)]
        return self._local_df(
            rows, "ref_name string, type string, snapshot_id string")

    def show_grants(self, on: str) -> DataFrame:
        """SHOW GRANTS ON <object>: the ACL rows for one object
        (reference GRANT surface / sys privileges)."""
        rows = [(on, priv, grantee)
                for priv, grantees in self._acl.get(on, {}).items()
                for grantee in sorted(grantees)]
        return self._local_df(
            rows or [("", "", "")],
            "object string, privilege string, grantee string"
        ).where("object <> ''")

    def _pipes(self):
        from .streaming.pipes import PipeRegistry

        reg = getattr(self, "_pipe_registry", None)
        if reg is None:
            reg = self._pipe_registry = PipeRegistry(self.spark)
        return reg

    # -- ANALYZE TABLE statistics (StatisticsService.java) -------------------
    def analyze_statistics(self, target: str,
                           columns: list[str] | None = None,
                           delete: bool = False) -> dict | None:
        """ANALYZE TABLE <t> FOR [ALL] COLUMNS [(...)] COMPUTE|DELETE
        STATISTICS (reference `SqlAnalyzeTableStatistics`,
        `StatisticsService.java`): one pass computes rowcount / nulls /
        NDV / min / max plus quantile histograms (the t-digest role —
        see plans/statistics.py) and lands them in the engine stats
        store (sys.statistics / sys.histograms).

        CBO wiring: when the target is a CATALOG table (not a temp
        view), the same statement also issues Spark's native
        `ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS]` so
        Catalyst's cost-based optimizer (join reorder, broadcast
        thresholds) consumes the numbers — the reference feeds
        `DremioCost`/`RelMdDistinctRowCount` from the same store."""
        store = getattr(self, "_table_stats", None)
        if store is None:
            store = self._table_stats = {}
        key = target.strip("'")
        if delete:
            return store.pop(key, None)
        from .plans.statistics import analyze_full

        exact = False
        if target.startswith("'"):
            df = self.sql(f"select * from {target}")
            # SqlSetApprox: ALTER TABLE ... DISABLE APPROXIMATE STATS
            # flips this dataset's ANALYZE to exact NDV
            path = target.strip("'")
            codec = codec_of(path)
            try:
                props = (codec.properties(codec.at(self.spark, path, None))
                         if codec else {})
            except Exception:  # noqa: BLE001
                props = {}
            exact = props.get("dremio.approximate_stats") == "false"
        else:
            df = self._resolve_table(target)
        # ONE aggregation job computes stats + histograms together (the
        # reference batches a single ANALYZE into one job, never a scan
        # per artifact)
        cols_df, hist_df = analyze_full(df, columns, exact_ndv=exact)
        entry = {
            "columns": [tuple(r) for r in cols_df.collect()],
            "histogram": [tuple(r) for r in hist_df.collect()],
        }
        store[key] = entry
        # push into Spark's catalog stats when the name is a real
        # catalog table — temp views have no catalog entry for CBO
        if not target.startswith("'"):
            try:
                is_catalog = (self.spark.catalog.tableExists(target)
                              and self.spark.catalog.getTable(target)
                              .tableType not in (None, "TEMPORARY"))
            except Exception:  # noqa: BLE001
                is_catalog = False
            if is_catalog:
                self.spark.sql(
                    f"ANALYZE TABLE {target} COMPUTE STATISTICS")
                cl = ", ".join(columns) if columns else None
                self.spark.sql(
                    f"ANALYZE TABLE {target} COMPUTE STATISTICS FOR "
                    + (f"COLUMNS {cl}" if cl else "ALL COLUMNS"))
        return entry

    def sys_statistics(self) -> DataFrame:
        """sys.statistics: per-column stats from ANALYZE (reference
        sys.table_statistics via StatisticsService)."""
        rows = [
            # ndv_exact (c[4]) mirrors the HLL estimate unless DISABLE
            # APPROXIMATE STATS made ANALYZE compute the exact pass
            (t, c[0], c[1], c[2], int(c[4]), c[5], c[6])
            for t, e in sorted(getattr(self, "_table_stats",
                                       {}).items())
            for c in e["columns"]
        ]
        return self._local_df(
            rows or [("", "", 0, 0, 0, "", "")],
            "table_name string, column_name string, n_rows bigint, "
            "n_nulls bigint, ndv bigint, min_value string, "
            "max_value string").where(
                "table_name <> ''" if not rows else "true")

    def sys_histograms(self) -> DataFrame:
        """sys.histograms: quantile sketches from ANALYZE (the
        reference's t-digest histogram store)."""
        rows = [
            (t, h[0], h[1], h[2])
            for t, e in sorted(getattr(self, "_table_stats",
                                       {}).items())
            for h in e["histogram"]
        ]
        return self._local_df(
            rows or [("", "", 0.0, 0.0)],
            "table_name string, column_name string, percentile double, "
            "value double").where(
                "table_name <> ''" if not rows else "true")

    def sys_reflection_recommendations(self) -> DataFrame:
        """sys.reflection_recommendations: ranked candidate aggregate
        reflections from the recorded workload + ANALYZE stats
        (reference `ReflectionSuggester.java:56` — suggestions a user
        replays as the `ddl` column verbatim)."""
        from .plans.suggester import suggest

        rows = [
            (s["dataset"], s["reflection_name"], s["dimensions"],
             s["measures"], s["dropped_high_ndv"], s["query_count"],
             float(s["estimated_reduction"] or 0.0), float(s["score"]),
             s["ddl"])
            for s in suggest(getattr(self, "_agg_workload", []),
                             getattr(self, "_table_stats", None))
        ]
        skipped = getattr(self, "_agg_workload_skipped", 0)
        if skipped:
            # completeness marker: aggregate statements seen but outside
            # the per-dataset analyzer scope (joins/subqueries) — the
            # workload was NOT empty, it just needs a human look
            rows.append(("(unparsed)", "", "", "",
                         f"{skipped} multi-table/subquery aggregates "
                         "not analyzed", skipped, 0.0, 0.0, ""))
        return self._local_df(
            rows or [("", "", "", "", "", 0, 0.0, 0.0, "")],
            "dataset string, reflection_name string, dimensions string, "
            "measures string, dropped_high_ndv string, "
            "query_count int, estimated_reduction double, score double, "
            "ddl string").where(
                "dataset <> ''" if not rows else "true")

    def reflection_recommendations(self, dataset: str,
                                   rtype: str = "ALL") -> list[dict]:
        """Reflection-body-shaped recommendations for ONE dataset
        (reference `DatasetResource.java:82-89` POST
        /dataset/{id}/reflection/recommendation[/{type}],
        ReflectionSuggestionType AGG|RAW|ALL).  AGG candidates come
        from the workload suggester; the RAW candidate is the
        all-display-fields raw reflection.  Each entry is directly
        POSTable to /api/v3/reflection to create it."""
        from .plans.suggester import suggest

        rtype = rtype.upper()
        if rtype not in ("AGG", "RAW", "ALL"):
            raise ValueError(
                f"invalid reflection recommendation type: {rtype}")
        out: list[dict] = []
        if rtype in ("AGG", "ALL"):
            for s in suggest(getattr(self, "_agg_workload", []),
                             getattr(self, "_table_stats", None)):
                if s["dataset"] != dataset:
                    continue
                dims = [d.strip()
                        for d in s["dimensions"].split(",") if d.strip()]
                meas = []
                for part in re.findall(r"(\w+)\s*\(([^)]*)\)",
                                       s["measures"]):
                    meas.append({"name": part[0],
                                 "measureTypeList":
                                     [t.strip() for t in
                                      part[1].split(",")]})
                out.append({
                    "type": "AGGREGATION", "name": s["reflection_name"],
                    "datasetId": dataset,
                    "dimensionFields": [{"name": d} for d in dims],
                    "measureFields": meas,
                    "queryCount": s["query_count"],
                    "score": s["score"], "ddl": s["ddl"]})
        if rtype in ("RAW", "ALL"):
            try:
                cols = [f.name for f in self.table(dataset).schema.fields]
            except Exception:  # noqa: BLE001 — unknown dataset: no RAW
                cols = []
            if cols:
                safe = re.sub(r"\W", "_", dataset)
                out.append({
                    "type": "RAW", "name": f"raw_suggested_{safe}",
                    "datasetId": dataset,
                    "displayFields": [{"name": c} for c in cols],
                    "ddl": f"ALTER DATASET {dataset} CREATE RAW "
                           f"REFLECTION raw_suggested_{safe} USING "
                           f"DISPLAY ({', '.join(cols)})"})
        return out

    def _admin_statement(self, query: str) -> DataFrame | None:
        """Remaining small productions of the reference grammar
        (Parser.tdd): CLEAR PLAN CACHE, user/role DDL, pipe statements,
        DROP FUNCTION, ANALYZE TABLE statistics."""
        # LOAD MATERIALIZATION METADATA <name> (SqlLoadMaterialization,
        # parserImpls.ftl:1406 — reflection-manager internal: surface
        # the materialization as a queryable frame)
        m = re.match(
            r"\s*load\s+materialization\s+metadata\s+([\w.\"]+)\s*$",
            query, re.I)
        if m:
            store = self._default_refl_store()
            return store.load_materialization(
                m.group(1).strip('"').split(".")[-1])
        # COMPACT MATERIALIZATION <name> AS '<id>'
        # (SqlCompactMaterialization, parserImpls.ftl:1428: rewrite the
        # materialization's small files into one compacted generation)
        m = re.match(
            r"\s*compact\s+materialization\s+([\w.\"]+)\s+as\s+"
            r"'([^']*)'\s*$", query, re.I)
        if m:
            store = self._default_refl_store()
            before, after = store.compact_materialization(
                m.group(1).strip('"').split(".")[-1])
            return self._status(
                "COMPACT MATERIALIZATION",
                f"{m.group(1)} ({before} -> {after} files, "
                f"id {m.group(2)})")
        # ANALYZE TABLE <t|'path'> FOR {ALL COLUMNS|COLUMNS (...)}
        #   COMPUTE|DELETE STATISTICS   (SqlAnalyzeTableStatistics)
        m = re.match(
            r"\s*analyze\s+table\s+('[^']+'|[\w.]+)\s+for\s+"
            r"(?:all\s+columns|columns\s*\(([^)]*)\))\s+"
            r"(compute|delete)\s+statistics\s*$", query, re.I)
        if m:
            cols = ([c.strip() for c in m.group(2).split(",")]
                    if m.group(2) else None)
            self.analyze_statistics(
                m.group(1), cols, delete=m.group(3).lower() == "delete")
            return self._status(
                f"ANALYZE {m.group(3).upper()}", m.group(1))
        m = re.match(
            r"\s*alter\s+(?:session|system)\s+clear\s+plan\s+cache\s*$",
            query, re.I)
        if m:
            # SqlAlterClearPlanCache: drop cached plans/relations so the
            # next query replans from scratch.  The engine's statement
            # PLAN CACHE already cleared before dispatch (every
            # non-SELECT invalidates wholesale); this also drops Spark's
            # cached relations
            self.spark.catalog.clearCache()
            getattr(self, "_plan_cache", {}).clear()
            return self._status("CLEAR PLAN CACHE", "ok")
        m = re.match(
            r"\s*(create|drop)\s+(user|role)\s+(\w+)\s*$", query, re.I)
        if m:
            verb, kind, name = (m.group(1).lower(), m.group(2).lower(),
                                m.group(3))
            # SqlCreateUser/Role: principals live in the roles graph; a
            # user is a principal with no members, a role may have them
            if verb == "create":
                self._roles.setdefault(name, set())
                if kind == "user":
                    self._users.setdefault(name,
                                           {"name": name, "tag": "0"})
                else:
                    self._role_defs.add(name)
            else:
                self._drop_principal(name)
            return self._status(f"{verb.upper()} {kind.upper()}", name)
        # GRANT ROLE r TO USER|ROLE p / REVOKE ROLE r FROM USER|ROLE p
        # (Parser.tdd SqlGrantRole/SqlRevokeRole — membership edges)
        m = re.match(
            r"\s*(grant|revoke)\s+role\s+(\w+)\s+(?:to|from)\s+"
            r"(?:user|role)\s+(\w+)\s*$", query, re.I)
        if m:
            verb, role, prin = (m.group(1).lower(), m.group(2),
                                m.group(3))
            (self.grant_role if verb == "grant"
             else self.revoke_role)(role, prin)
            return self._status(f"{verb.upper()} ROLE",
                                f"{role} -> {prin}")
        # GRANT p[, ...] ON [entity-type] obj TO USER|ROLE g and the
        # matching REVOKE ... FROM (Parser.tdd SqlGrant/SqlRevoke; the
        # entity-type keyword is addressing sugar — the ACL keys on the
        # object name either way)
        m = re.match(
            r"\s*(grant|revoke)\s+([\w_]+(?:\s*,\s*[\w_]+)*)\s+on\s+"
            r"(?:(?:table|vds|pds|view|space|folder|source|system|"
            r"project)\s+)?'?([\w./]+)'?\s+(?:to|from)\s+"
            r"(?:user|role)\s+(\w+)\s*$", query, re.I)
        if m and m.group(2).lower() != "role":
            verb, privs, obj, grantee = m.groups()
            for p in privs.split(","):
                (self.grant if verb.lower() == "grant"
                 else self.revoke)(p.strip(), obj, grantee)
            return self._status(verb.upper(),
                                f"{privs} on {obj} -> {grantee}")
        m = re.match(
            r"\s*create\s+pipe\s+(\w+)\s+as\s+copy\s+into\s+'([^']+)'"
            r"\s+from\s+'([^']+)'(?:\s+file_format\s+'(\w+)')?"
            r"(?:\s+on_error\s+'(\w+)')?\s*$",
            query, re.I)
        if m:
            name, target, glob_, fmt, onerr = m.groups()
            self._pipes().create_pipe(
                name, target, glob_, fmt=(fmt or "parquet").lower(),
                on_error=(onerr or "abort").lower())
            return self._status("CREATE PIPE", name)
        # ALTER PIPE <name> SET PIPE_EXECUTION_RUNNING|PAUSED, or full
        # redefinition ALTER PIPE <name> AS COPY INTO ... (ingestion.ftl
        # SqlAlterPipe / SqlAlterPipeStatus)
        m = re.match(
            r"\s*alter\s+pipe\s+(\w+)\s+set\s+"
            r"pipe_execution_(running|paused)\s*$", query, re.I)
        if m:
            p = self._pipes()._pipes.get(m.group(1))
            if p is None:
                raise ValueError(f"no pipe {m.group(1)!r}")
            p.status = m.group(2).upper()
            return self._status("ALTER PIPE", f"{p.name} {p.status}")
        m = re.match(
            r"\s*alter\s+pipe\s+(\w+)\s+as\s+copy\s+into\s+'([^']+)'"
            r"\s+from\s+'([^']+)'(?:\s+file_format\s+'(\w+)')?"
            r"(?:\s+on_error\s+'(\w+)')?\s*$",
            query, re.I)
        if m:
            name, target, glob_, fmt, onerr = m.groups()
            reg = self._pipes()
            if name not in reg._pipes:
                raise ValueError(f"no pipe {name!r}")
            status = reg._pipes[name].status
            reg.create_pipe(name, target, glob_,
                            fmt=(fmt or "parquet").lower(),
                            on_error=(onerr or "abort").lower())
            reg._pipes[name].status = status  # redefinition keeps state
            return self._status("ALTER PIPE", name)
        # ALTER USER <name> SET PASSWORD '<pw>' (SqlAlterUser): store a
        # salted hash on the principal; no local authn consumes it
        m = re.match(
            r"\s*alter\s+user\s+(\w+)\s+set\s+password\s+'([^']*)'\s*$",
            query, re.I)
        if m:
            import hashlib

            name = m.group(1)
            self._roles.setdefault(name, set())
            self._passwords[name] = hashlib.sha256(
                f"{name}:{m.group(2)}".encode()).hexdigest()
            return self._status("ALTER USER", name)
        m = re.match(r"\s*trigger\s+pipe\s+(\w+)\s*$", query, re.I)
        if m:
            # SqlTriggerPipe: run one ingest pass now
            n = self._pipes().run(m.group(1))
            return self._status("TRIGGER PIPE", f"{n} rows loaded")
        m = re.match(r"\s*describe\s+pipe\s+(\w+)\s*$", query, re.I)
        if m:
            p = self._pipes()._pipes.get(m.group(1))
            if p is None:
                raise ValueError(f"no pipe {m.group(1)!r}")
            return self._local_df(
                [(p.name, p.target, p.source_glob, p.fmt, p.dedup,
                  p.status)],
                "pipe_name string, target string, source string, "
                "file_format string, dedupe boolean, status string")
        m = re.match(r"\s*drop\s+pipe\s+(\w+)\s*$", query, re.I)
        if m:
            self._pipes().drop_pipe(m.group(1))
            return self._status("DROP PIPE", m.group(1))
        m = re.match(r"\s*show\s+grants\s+on\s+'?([\w.]+)'?\s*$",
                     query, re.I)
        if m:
            return self.show_grants(m.group(1))
        m = re.match(r"\s*drop\s+function\s+(?:if\s+exists\s+)?(\w+)\s*$",
                     query, re.I)
        if m:
            self.spark.sql(f"drop temporary function if exists {m.group(1)}")
            return self._status("DROP FUNCTION", m.group(1))
        # row-access / masking policy DDL (parserImpls.ftl:298,631)
        m = re.match(
            r"\s*alter\s+(?:table|vds|view)\s+([\w.]+)\s+add\s+row\s+access\s+"
            r"policy\s+(\w+)\s*\((.*)\)\s*$", query, re.I | re.S)
        if m:
            self.add_row_access_policy(m.group(1), m.group(2), m.group(3))
            return self._status("ADD ROW ACCESS POLICY",
                                f"{m.group(2)} on {m.group(1)}")
        m = re.match(
            r"\s*alter\s+(?:table|vds|view)\s+([\w.]+)\s+drop\s+row\s+access\s+"
            r"policy\s+(\w+)\s*(?:\([^)]*\))?\s*$", query, re.I)
        if m:
            self.drop_row_access_policy(m.group(1), m.group(2))
            return self._status("DROP ROW ACCESS POLICY",
                                f"{m.group(2)} on {m.group(1)}")
        m = re.match(
            r"\s*alter\s+(?:table|vds|view)\s+([\w.]+)\s+modify\s+column\s+"
            r"(\w+)\s+set\s+masking\s+policy\s+(\w+)\s*\((.*)\)\s*$",
            query, re.I | re.S)
        if m:
            self.set_masking_policy(m.group(1), m.group(2), m.group(3),
                                    m.group(4))
            return self._status(
                "SET MASKING POLICY",
                f"{m.group(3)} on {m.group(1)}.{m.group(2)}")
        m = re.match(
            r"\s*alter\s+(?:table|vds|view)\s+([\w.]+)\s+modify\s+column\s+"
            r"(\w+)\s+unset\s+masking\s+policy\s*(?:\w+)?\s*$", query, re.I)
        if m:
            self.unset_masking_policy(m.group(1), m.group(2))
            return self._status("UNSET MASKING POLICY",
                                f"{m.group(1)}.{m.group(2)}")
        return None

    def _accel_accept(self, refl) -> bool:
        """The matchers' per-candidate gate: False when the reflection's
        dataset has its kind (raw/aggregate) disabled via ALTER ...
        DISABLE RAW|AGGREGATE ACCELERATION (SqlAccelToggle); otherwise
        the candidate is refreshed if stale (`_refresh_if_stale`) and
        refused if that refresh fails."""
        togg = getattr(self, "_accel_toggles", None)
        t = togg.get(getattr(refl, "table", None)) if togg else None
        if t is not None:
            from .plans.reflections import RawReflection

            kind = "raw" if isinstance(refl, RawReflection) else "agg"
            if not t.get(kind, True):
                return False
        return self._refresh_if_stale(refl)

    def _try_accelerate(self, query: str) -> DataFrame | None:
        """Wrapper recording the probe's substitution CANDIDATES for
        the job profile's acceleration section (the reference lists
        considered/matched reflections per query): every matcher funnels
        through ReflectionStore._note_candidates, reset here per probe.
        `_probe` holds the (text, frame) the probe analyzed, or None."""
        self._probe = None
        store = getattr(self, "_refl_store", None)
        if store is not None:
            store.last_candidates = []
        try:
            return self._try_accelerate_probe(query)
        finally:
            self.last_plan_considered = list(
                getattr(store, "last_candidates", [])
                if store is not None else [])

    def _try_accelerate_probe(self, query: str) -> DataFrame | None:
        """Transparent reflection substitution for plain SQL (the
        reference's core acceleration UX: SubstitutionProvider matches
        the user's query tree and answers from a materialization without
        the user naming it).  The query is analyzed ONCE
        (`_plan_tree_accelerate`) and that plan decides every
        substitution, in order: an external reflection's dataset swap,
        the plan-tree aggregate and raw-scan matchers
        (`plans/substitution.py`), and the any-shape raw swap.  Anything
        none of them answers falls through to normal planning.
        `last_plan_accelerated` records the reflection used (None when
        not accelerated)."""
        self.last_plan_accelerated = None
        if getattr(self, "_accel_disabled", 0):
            return None  # view-definition planning must not substitute
        if not getattr(self, "acceleration_enabled", True):
            return None  # global kill switch (DevelopmentOptions)
        if sqltext.search(r"\b(?:sys|information_schema)\.", query, re.I):
            # engine catalog views resolve AFTER this probe
            # (_expand_sys_tables); analyzing them raw would just log a
            # TABLE_OR_VIEW_NOT_FOUND at ERROR level before the
            # fall-through — and sys.* is never accelerable anyway
            return None
        store = getattr(self, "_refl_store", None)
        if store is None or not (store._reflections or store._raw
                                 or getattr(store, "_external", None)):
            return None
        # dependency-driven freshness: a stale candidate refreshes when a
        # matcher considers it (`_accel_accept`), so an accelerated answer
        # reflects the latest commit and a query that no reflection could
        # answer refreshes nothing
        return self._plan_tree_accelerate(self._resolve_vds_names(query))

    @staticmethod
    def _analyzable(query: str) -> bool:
        """Whether a probe may analyze `query` through Spark: SELECT or
        WITH only, and no command keyword anywhere — WITH ... INSERT
        INTO is a COMMAND that spark.sql() executes eagerly, so
        analyzing it would apply the DML twice.  Skipping such a query
        is sound (it just plans normally)."""
        return bool(re.match(r"\s*(select|with)\b", query, re.I)) and not \
            re.search(r"\b(insert\s+into|create\s+(or\s+replace\s+)?"
                      r"table|replace\s+table|merge\s+into|"
                      r"delete\s+from)\b", query, re.I)

    @staticmethod
    def _conform(probe: DataFrame, df: DataFrame) -> DataFrame | None:
        """Acceleration must be invisible in the result SCHEMA too:
        reflection partials are decimal(28,4), so a substituted
        sum(double_col) would surface as decimal without this.  Cast
        every output, by position, to the probe's (unaccelerated) dtype;
        a name mismatch means the rewrite drifted — refuse (None)."""
        want, got = probe.schema.fields, df.schema.fields
        if [f.name for f in want] != [f.name for f in got]:
            return None
        if [f.dataType for f in want] == [f.dataType for f in got]:
            return df
        tmp = [f"__c{i}" for i in range(len(want))]
        return df.toDF(*tmp).select(*[
            F.col(t).cast(f.dataType).alias(f.name)
            for t, f in zip(tmp, want)])

    def _swap_answer(self, query: str, probe: DataFrame,
                     bindings: dict) -> DataFrame | None:
        """Answer `query` with each session view named in `bindings`
        bound to its stand-in frame for the duration of one re-analysis,
        conformed to the probe's schema.  None when a view is unbound or
        the query no longer analyzes (a column the stand-in lacks).
        Every binding is restored no matter what — a leaked swap would
        silently redirect every later query in the session."""
        originals = {}
        try:
            for name, df in bindings.items():
                originals[name] = self.spark.table(name)
                df.createOrReplaceTempView(name)
            return self._conform(probe, self.spark.sql(query))
        except Exception:  # noqa: BLE001 — sound fall-through
            return None
        finally:
            for name, odf in originals.items():
                odf.createOrReplaceTempView(name)

    def _external_accelerate(self, query: str, probe: DataFrame,
                             names: set, policied) -> DataFrame | None:
        """External-reflection substitution (reference
        `ReflectionServiceImpl.createExternalReflection:586`): when the
        analyzed plan reads a dataset with a registered EXTERNAL
        reflection, re-plan the query with that dataset bound to the
        user-maintained target — the whole query (any shape: joins,
        aggregates, windows) answers from the target, exactly the
        reference's descriptor substitution of the dataset expansion.
        Freshness gate: either side's row type drifting from the
        creation-time fingerprint marks the reflection OUT_OF_SYNC
        (invalid) and it stops matching.  `names` are the relations the
        probe's plan reads (`relation_names`)."""
        from .plans.reflections import _schema_fp

        hits = []
        for e in getattr(self._refl_store, "_external", {}).values():
            # policy-governed datasets never accelerate (the target
            # holds raw rows — serving it would bypass row/mask
            # policies, same exclusion as declared reflections)
            if (e.invalid or policied([e.table])
                    or self._policy_target(e.table).lower() not in names):
                continue
            try:
                cur_d = _schema_fp(self._resolve_table(e.table))
                cur_t = _schema_fp(self._resolve_table(e.target))
            except Exception:
                cur_d = cur_t = "<unresolvable>"
            if cur_d != e.dataset_fp or cur_t != e.target_fp:
                e.invalid = True  # OUT_OF_SYNC (ExternalReflectionStatus)
                continue
            hits.append(e)
        if not hits:
            return None
        df = self._swap_answer(query, probe, {
            self._policy_target(e.table): self._resolve_table(e.target)
            for e in hits})
        if df is None:
            return None
        self.last_plan_accelerated = hits[0].name
        # the matched external reflection is a considered candidate
        # (profile contract: accelerated_by is always in the list)
        self._refl_store._note_candidates(hits)
        return df

    def _plan_tree_accelerate(self, query: str) -> DataFrame | None:
        """Analyze the SQL through Spark once (views expand here, exactly
        the reference's pre-substitution normalization) and answer from
        a covering reflection.  Only SELECT/WITH statements are analyzed
        — Spark executes commands (INSERT/CTAS) eagerly on `sql()`, and
        a probe must never have side effects.  The analyzed frame is
        kept in `_probe`, so normal planning of the same text reuses it.
        `query` arrives with its dotted VDS names flattened
        (`_resolve_vds_names`)."""
        if not self._analyzable(query):
            return None
        from .plans.substitution import (extract_agg_query,
                                         extract_scan_query,
                                         extract_union_branches,
                                         match_and_execute,
                                         match_and_execute_raw,
                                         relation_names)

        q = query
        # path-anchored reflections: a quoted lake path with a
        # registered reflection rewrites to its canonical __plake_ view
        # so the analyzed tree matches refl.table.  Time-travel suffixes
        # and USE version contexts are left untouched (the quoted form
        # then fails Spark analysis and the probe soundly falls through
        # to normal planning — a versioned read must never answer from a
        # current-state materialization).
        if getattr(self, "_path_refl_views", None) and not self._use_version:
            pinned = {os.path.normpath(k) for k in self._use_version_in}

            def _plake(m):
                p = os.path.normpath(m.group(2))
                v = self._path_refl_views.get(p)
                if v is None or p in pinned:
                    return m.group(0)
                return f"{m.group(1)} {v}"
            q = sqltext.sub(r"\b(from|join)\s+'([^']+)'(?!\s+at\b)",
                            _plake, q, re.I)
        try:
            self._ensure_shims(q)
            probe = self.spark.sql(q)
            analyzed = (probe._jdf.queryExecution()
                        .analyzed().toJSON())
        except Exception:  # noqa: BLE001 — dialect SQL Spark can't parse
            return None
        self._probe = (q, probe)
        store = self._refl_store
        pol = {t.lower() for t, p in self._policies.items()
               if p["row"] or p["mask"]}

        def policied(tables) -> bool:
            # a materialization built before a policy attached would
            # serve unmasked/unfiltered rows — reflections never answer
            # queries over policy-governed tables (the reference
            # likewise excludes secured datasets from acceleration)
            return any(self._policy_target(t).lower() in pol
                       for t in tables)

        # Fail-safe: acceleration must NEVER break a query that would
        # plan normally — any unexpected error in matching/execution
        # falls through to the unaccelerated path.
        try:
            names = relation_names(analyzed)
            df = self._external_accelerate(q, probe, names, policied)
            if df is not None:
                return df
            # the extractors read whole plans: a policy on ANY relation
            # under them (a base table inside a reflected view too)
            # refuses
            matchable = not policied(names)
            # a view carrying a reflection of its own is one leaf, named
            # like the reflection's table
            anchors = {v.lower(): r.table
                       for r in (*store._reflections.values(),
                                 *store._raw.values())
                       if (v := self._policy_target(r.table)) != r.table}
            ex = (extract_agg_query(analyzed, anchors)
                  if matchable else None)
            if ex is not None:
                got = match_and_execute(store, ex, self._accel_accept)
                if got is not None:
                    df = self._conform(probe, got[0])
                    if df is not None:
                        self.last_plan_accelerated = got[1]
                        return df
            got_u = (extract_union_branches(analyzed, anchors)
                     if matchable and ex is None else None)
            if got_u is not None:
                # UNION ALL of aggregate fragments: substitute every
                # branch (all-or-nothing) and union positionally — SQL
                # union names come from the first branch, which the
                # substituted frames preserve, so _conform still
                # verifies the output schema
                branches, order, u_limit = got_u
                subs = [match_and_execute(store, b, self._accel_accept)
                        for b in branches]
                if all(s is not None for s in subs):
                    from functools import reduce as _reduce

                    from .plans.substitution import _sort_col

                    u = _reduce(lambda a, b: a.union(b),
                                [s[0] for s in subs])
                    if order:
                        u = u.orderBy(*[
                            _sort_col(F.col(n), asc, nf)
                            for n, asc, nf in order])
                    if u_limit is not None:
                        # sort+limit plans as TakeOrderedAndProject
                        u = u.limit(u_limit)
                    df = self._conform(probe, u)
                    if df is not None:
                        self.last_plan_accelerated = ",".join(
                            dict.fromkeys(s[1] for s in subs))
                        return df
            if not store._raw:
                return None
            # non-aggregate scan: a covering RAW reflection swaps the
            # scan (narrow sorted files) — the raw-reflection role
            exs = (extract_scan_query(analyzed, anchors)
                   if matchable else None)
            if exs is not None:
                got = match_and_execute_raw(store, exs, self._accel_accept)
                if got is not None:
                    df = self._conform(probe, got[0])
                    if df is not None:
                        self.last_plan_accelerated = got[1]
                        return df
            # ANY-SHAPE raw swap: when the fragment extractors refuse
            # (window functions, DISTINCT, joins, CTEs), a raw
            # reflection still answers by re-binding the scan — raws
            # hold EVERY row, analysis against the swapped binding
            # succeeds only if it carries every referenced column, and
            # _conform refuses any output drift (e.g. `select *` over a
            # narrower raw).  This is the reference's scan-level
            # materialization match (SubstitutionProvider.java:40 on
            # the TableScan).
            for refl in store._raw.values():
                view = self._policy_target(refl.table)
                if (getattr(refl, "invalid", False)
                        or view.lower() not in names
                        or policied([refl.table])
                        or not self._accel_accept(refl)):
                    continue
                df = self._swap_answer(q, probe, {
                    view: store._read_data(store._data_dir(refl))})
                if df is not None:
                    self.last_plan_accelerated = refl.name
                    store._note_candidates([refl])
                    return df
        except Exception:  # noqa: BLE001 — fall through, plan normally
            self.last_plan_accelerated = None
        return None

    def profile(self, query) -> DataFrame:
        """EXPLAIN ANALYZE / job profile: execute the query and return
        per-operator RUNTIME metrics (rows out, operator time, peak
        memory, spill, full metric map as JSON) — the operator table of
        the reference's job profile (query profiles with per-operator
        metrics, `exec/work/foreman` profile plumbing).  Execution
        writes to the noop sink under a job group of its own, so
        nothing is collected to the driver and the run is one SQL
        execution whose status-store entry the job-profile builder
        reads (`plans/telemetry.py`)."""
        import json as _json
        import uuid as _uuid

        from .plans.telemetry import JOB_GROUP_PROPS

        df = query if isinstance(query, DataFrame) else self.sql(query)
        sc = self.spark.sparkContext
        group = f"profile-{_uuid.uuid4().hex[:16]}"
        prev = [sc.getLocalProperty(k) for k in JOB_GROUP_PROPS]
        sc.setJobGroup(group, f"profile {group}")
        try:
            df.write.format("noop").mode("overwrite").save()
        finally:
            for k, v in zip(JOB_GROUP_PROPS, prev):
                sc.setLocalProperty(k, v)
        ops = self.job_telemetry.reader.profile(group)["operators"]
        if ops and ops[0]["operatorName"] == "OverwriteByExpression":
            # the noop sink's write node: the frame's plan is below it
            ops = [dict(o, operatorId=o["operatorId"] - 1,
                        depth=o["depth"] - 1) for o in ops[1:]]
        rows: list[tuple] = []
        for o in ops:
            m = o["metrics"]
            t = next((m[k] for k in
                      ("time in aggregation build", "scan time",
                       "duration", "sort time")
                      if k in m), None)
            rows.append((o["operatorId"], o["depth"], o["operatorName"],
                         m.get("number of output rows"), t,
                         m.get("peak memory"),
                         m.get("spill size"), _json.dumps(m)))
        return self._local_df(
            rows,
            "op_id int, depth int, operator string, rows_out long, "
            "time_ms long, peak_memory long, spill_bytes long, "
            "metrics string")

    def attach_external_source(self, name: str, source) -> None:
        """Register an `ExternalSource` under a source name so SQL can
        call table(<name>.external_query('<remote sql>'))."""
        self._ext_sources[name] = source

    # -- versioned (Nessie dataplane) sources ------------------------------
    def create_versioned_source(self, name: str, root: str) -> None:
        """Register a catalog-level versioned source: one Nessie-style
        commit tree over every table/view under `root`
        (sources/dataplane.py; reference DataplanePlugin.java — the
        plugin whose namespace resolves through Nessie refs)."""
        from .sources import dataplane

        os.makedirs(root, exist_ok=True)
        dataplane.init_source(root)
        self._versioned_sources[name] = root

    def _vsrc_ref(self, src: str,
                  mode: str | None, arg: str | None
                  ) -> tuple[str | None, str | None]:
        """Resolve the (ref, commit_id) a versioned-source table ref
        binds to: explicit AT clause > per-source USE context > global
        USE (when the source carries that ref) > main."""
        from .sources import dataplane

        root = self._versioned_sources[src]
        if mode is not None:
            mode = mode.lower()
            if mode == "commit":
                return None, arg
            return arg, None
        use = self._use_version_src.get(src)
        if use is None and self._use_version is not None:
            kind, name = self._use_version
            if kind == "commit":
                return None, name
            try:  # global USE applies only where the ref exists
                dataplane.resolve_ref(root, name)
                return name, None
            except ValueError:
                return None, None
        if use is not None:
            kind, name = use
            return (None, name) if kind == "commit" else (name, None)
        return None, None

    def _expand_versioned_refs(self, query: str,
                               overrides: dict | None = None) -> str:
        """Rewrite `<source>.<key> [AT BRANCH|TAG|COMMIT <ref>]` table
        refs in FROM/JOIN into temp views resolved through the source's
        commit tree (DataplanePlugin table resolution; AT grammar
        parserImpls.ftl:943).  Versioned VIEWS expand inline, their own
        table refs pinned at the SAME ref (`overrides`) so a view read
        AT BRANCH dev sees dev's tables."""
        if not self._versioned_sources:
            return query
        from .sources import dataplane

        names = "|".join(re.escape(n) for n in self._versioned_sources)

        def repl(m: sqltext.Match) -> str:
            kw, src, key = m.group(1), m.group(2), m.group(3)
            mode, arg = m.group(4), m.group(5) or m.group(6)
            root = self._versioned_sources[src]
            if mode is None and overrides and src in overrides:
                mode, arg = overrides[src]
            if mode is not None and mode.lower() == "timestamp":
                # Nessie timestamp-resolved ref: the newest commit at
                # or before the instant ON THE SESSION'S CHAIN — USE
                # BRANCH dev resolves against dev, default main.  Naive
                # ISO strings are UTC (the reference's server parses
                # timestamps in UTC, never the server's local zone).
                from datetime import datetime as _dt
                from datetime import timezone as _tz

                if arg.isdigit():
                    ts_ms = int(arg)
                else:
                    dt = _dt.fromisoformat(arg)
                    if dt.tzinfo is None:
                        dt = dt.replace(tzinfo=_tz.utc)
                    ts_ms = int(dt.timestamp() * 1000)
                use_ref, use_cid = self._vsrc_ref(src, None, None)
                cid = dataplane.resolve_at_timestamp(
                    root, ts_ms, ref=use_ref, commit_id=use_cid)
                if cid is None:
                    raise ValueError(
                        f"no commit in {src} at or before {arg}")
                ref = None
            else:
                ref, cid = self._vsrc_ref(src, mode, arg)
            st = dataplane.state_at(root, ref, commit_id=cid)
            content = st.get(key)
            if content is None:
                raise ValueError(
                    f"no table or view {src}.{key} at "
                    f"{cid or ref or 'main'}")
            if content["type"] == "ICEBERG_VIEW":
                # the view body joins the statement after its dialect pass
                inner = self._expand_versioned_refs(
                    _dialect(content["sql"]),
                    overrides={src: (("commit", cid) if cid
                                     else ("branch", ref or "main"))})
                return f"{kw} ({inner})"
            # same manifest-level pruning as quoted lake refs: safe
            # single-table equality conjuncts narrow the FILE set
            # before Spark plans (the WHERE still row-filters)
            bindings = self._safe_equality_bindings(query, key)
            df, _ = dataplane.read_table(
                self.spark, root, key, ref=ref, commit_id=cid,
                equality=bindings)
            # keyed by the bindings too: a concurrent query's
            # differently-pruned set must not swap under this one
            view = "__dp_" + str(abs(hash(
                (src, key, ref, cid, content["snapshot_id"],
                 tuple(sorted((k, str(v))
                       for k, v in bindings.items()))))) % 10**8)
            df.createOrReplaceTempView(view)
            return f"{kw} {view}"

        return sqltext.sub(
            rf"\b(from|join)\s+({names})\.((?:\w+\.)*\w+)"
            r"(?:\s+at\s+(branch|tag|commit|ref|timestamp)\s+"
            r"(?:'([^']+)'|(\w+)))?",
            repl, query, re.I)

    def _dataplane_statement(self, query: str) -> DataFrame | None:
        """Statement router for catalog-level versioned sources: branch
        and tag DDL addressed `IN <source>` (unquoted registered name),
        USE BRANCH per source, SHOW BRANCHES/TAGS/LOGS, and table DDL /
        DML on `<source>.<key>` refs — the reference's dataplane SQL
        surface (parserImpls.ftl:943, DataplanePlugin.java)."""
        if not self._versioned_sources:
            return None
        from .sources import dataplane

        names = "|".join(re.escape(n) for n in self._versioned_sources)
        at = (r"(?:\s+at\s+(?:branch|ref)\s+(\w+))?")
        # CREATE BRANCH/TAG <name> IN <src> [FROM <ref> | AT COMMIT 'c']
        m = re.match(
            rf"\s*create\s+(branch|tag)\s+(\w+)\s+in\s+({names})"
            r"(?:\s+from\s+(\w+)|\s+at\s+commit\s+'([^']+)')?\s*$",
            query, re.I)
        if m:
            root = self._versioned_sources[m.group(3)]
            head = dataplane.create_ref(
                root, m.group(2), m.group(1).lower(),
                from_ref=m.group(4), at_commit=m.group(5))
            return self._status(
                f"CREATE {m.group(1).upper()}",
                f"{m.group(2)} in {m.group(3)} @ {head}")
        # DROP BRANCH/TAG <name> IN <src>
        m = re.match(
            rf"\s*drop\s+(?:branch|tag)\s+(\w+)\s+in\s+({names})\s*$",
            query, re.I)
        if m:
            dataplane.drop_ref(self._versioned_sources[m.group(2)],
                               m.group(1))
            return self._status("DROP REF", m.group(1))
        # ALTER BRANCH/TAG <name> ASSIGN (BRANCH|TAG|COMMIT) <to> IN <src>
        m = re.match(
            rf"\s*alter\s+(?:branch|tag)\s+(\w+)\s+assign\s+"
            rf"(branch|tag|ref|commit)\s+'?([\w-]+)'?\s+in\s+({names})\s*$",
            query, re.I)
        if m:
            root = self._versioned_sources[m.group(4)]
            kind = m.group(2).lower()
            head = dataplane.assign_ref(
                root, m.group(1),
                to_ref=None if kind == "commit" else m.group(3),
                to_commit=m.group(3) if kind == "commit" else None)
            return self._status(
                "ASSIGN REF", f"{m.group(1)} -> {m.group(3)} @ {head}")
        # MERGE BRANCH <src-branch> INTO <target> IN <src> [DRY RUN]
        m = re.match(
            rf"\s*merge\s+branch\s+(\w+)\s+into\s+(\w+)\s+in\s+"
            rf"({names})(\s+dry\s+run)?\s*$", query, re.I)
        if m:
            root = self._versioned_sources[m.group(3)]
            if m.group(4):  # Nessie dry-run merge check: no commit
                res = dataplane.merge_dry_run(root, m.group(1),
                                              m.group(2))
                return self._local_df(
                    [(", ".join(res["mergeable_keys"]),
                      ", ".join(res["conflicts"]),
                      res["would_succeed"])],
                    "mergeable_keys string, conflicts string, "
                    "would_succeed boolean")
            res = dataplane.merge_branch(
                root, m.group(1), m.group(2), author=self.session_user)
            return self._status(
                "MERGE BRANCH",
                f"{m.group(1)} -> {m.group(2)} @ {res['commit']} "
                f"({len(res['merged_keys'])} keys)")
        # MERGE INTO <src>.<key> [AT BRANCH b] USING ... ON <cond>
        #   [WHEN MATCHED THEN UPDATE SET ...] [WHEN NOT MATCHED THEN INSERT *]
        m = sqltext.match(
            rf"\s*merge\s+into\s+({names})\.((?:\w+\.)*\w+){at}"
            + self._MERGE_REST, query, re.I | re.S)
        if m and (m.group("sets") is not None or m.group("ins")):
            src, key = m.group(1), m.group(2)
            branch = m.group(3) or self._default_branch(src)
            cid = dataplane.merge_into(
                self.spark, self._versioned_sources[src], branch, key,
                author=self.session_user, **self._merge_args(m))
            return self._status("MERGE",
                                f"{src}.{key} @ {branch} ({cid})")
        # VACUUM SOURCE <src> [OLDER_THAN n unit]: catalog GC of
        # unreachable locations; OLDER_THAN is the Nessie-GC cutoff —
        # artifacts younger than the window never delete (protects
        # in-flight writes whose catalog commit has not landed)
        mult = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
        m = re.match(
            rf"\s*vacuum\s+source\s+({names})"
            r"(?:\s+older_than\s+(\d+)\s*(second|minute|hour|day)s?)?"
            r"\s*$", query, re.I)
        if m:
            grace_ms = (int(m.group(2)) * mult[m.group(3).lower()]
                        * 1000 if m.group(2) else 0)
            removed = dataplane.gc_unreachable(
                self._versioned_sources[m.group(1)], grace_ms=grace_ms)
            return self._status("VACUUM SOURCE",
                                f"removed {len(removed)} locations")
        # OPTIMIZE TABLE <src>.<key> [AT BRANCH b] — bin-pack the
        # branch snapshot DETACHED, advance only this branch's pointer
        # (the reference supports OPTIMIZE on versioned tables,
        # OptimizeHandler.java:129)
        m = re.match(
            rf"\s*optimize\s+table\s+({names})\.((?:\w+\.)*\w+){at}"
            r"(?:\s+rewrite\s+data(?:\s+using\s+bin_pack)?)?"
            r"(?:\s*\(([^)]*=[^)]*)\))?\s*$",
            query, re.I)
        if m:
            src, key = m.group(1), m.group(2)
            branch = m.group(3) or self._default_branch(src)
            cid, before, after = dataplane.optimize_table(
                self.spark, self._versioned_sources[src], branch, key,
                options=self._optimize_options(m.group(4)),
                author=self.session_user)
            return self._status(
                "OPTIMIZE TABLE",
                f"{src}.{key} @ {branch}: {before} -> {after} files "
                f"({cid})")
        # VACUUM TABLE <src>.<key> EXPIRE SNAPSHOTS — expire Iceberg
        # snapshots no catalog commit references (branch/tag/AT COMMIT
        # history all stays resolvable)
        m = re.match(
            rf"\s*vacuum\s+table\s+({names})\.((?:\w+\.)*\w+)"
            r"\s+expire\s+snapshots"
            r"(?:\s+older_than\s+(\d+)\s*(second|minute|hour|day)s?)?"
            r"\s*$", query, re.I)
        if m:
            grace_ms = (int(m.group(3)) * mult[m.group(4).lower()]
                        * 1000 if m.group(3) else 0)
            removed = dataplane.vacuum_table(
                self._versioned_sources[m.group(1)], m.group(2),
                grace_ms=grace_ms)
            return self._status(
                "VACUUM TABLE",
                f"{m.group(1)}.{m.group(2)}: removed {len(removed)} "
                "files")
        # USE BRANCH/TAG/COMMIT <name> IN <src>  (unquoted source form)
        m = re.match(
            rf"\s*use\s+(branch|tag|ref|commit)\s+'?([\w-]+)'?\s+in\s+"
            rf"({names})\s*$", query, re.I)
        if m:
            kind = {"ref": "branch"}.get(m.group(1).lower(),
                                         m.group(1).lower())
            if kind != "commit":  # fail fast on unknown refs
                dataplane.resolve_ref(
                    self._versioned_sources[m.group(3)], m.group(2))
            self._use_version_src[m.group(3)] = (kind, m.group(2))
            return self._status(
                "USE VERSION",
                f"{kind} {m.group(2)} in {m.group(3)}")
        # DESCRIBE [TABLE] <src>.<key> [AT BRANCH/TAG/COMMIT <ref>]
        m = re.match(
            rf"\s*desc(?:ribe)?\s+(?:table\s+)?({names})\."
            rf"((?:\w+\.)*\w+)"
            r"(?:\s+at\s+(branch|tag|commit)\s+'?([\w-]+)'?)?\s*$",
            query, re.I)
        if m:
            from .sources.iceberg import _snapshot_meta

            src, key = m.group(1), m.group(2)
            ref, cid = self._vsrc_ref(src, m.group(3), m.group(4))
            root = self._versioned_sources[src]
            st = dataplane.state_at(root, ref, commit_id=cid)
            content = st.get(key)
            if content is None:
                raise ValueError(f"no table or view {src}.{key}")
            if content["type"] == "ICEBERG_VIEW":
                return self._local_df(
                    [("sql", content["sql"], "")],
                    "column_name string, data_type string, "
                    "comment string")
            sm = _snapshot_meta(
                os.path.join(root, content["location"]),
                content["snapshot_id"])
            rows = [(f.name, f.dataType.simpleString(), "")
                    for f in sm.schema.fields]
            return self._local_df(
                rows, "column_name string, data_type string, "
                      "comment string")
        # SHOW TABLES/VIEWS IN <src> [AT BRANCH/TAG/COMMIT <ref>]
        m = re.match(
            rf"\s*show\s+(tables|views)\s+in\s+({names})"
            r"(?:\s+at\s+(branch|tag|commit)\s+'?([\w-]+)'?)?\s*$",
            query, re.I)
        if m:
            ref, cid = self._vsrc_ref(m.group(2), m.group(3),
                                      m.group(4))
            st = dataplane.state_at(
                self._versioned_sources[m.group(2)], ref,
                commit_id=cid)
            want = ("ICEBERG_TABLE" if m.group(1).lower() == "tables"
                    else "ICEBERG_VIEW")
            rows = [(k, c.get("location", ""),
                     c.get("snapshot_id"))
                    for k, c in sorted(st.items())
                    if c["type"] == want]
            return self._local_df(
                rows or [("", "", None)],
                "table_name string, location string, "
                "snapshot_id long").where(
                    "table_name <> ''" if not rows else "true")
        # SHOW BRANCHES/TAGS IN <src>
        m = re.match(
            rf"\s*show\s+(branches|tags)\s+in\s+({names})\s*$",
            query, re.I)
        if m:
            refs = dataplane._load_refs(self._versioned_sources[m.group(2)])
            rows = [(n, c) for n, c in
                    sorted(refs[m.group(1).lower()].items())]
            return self._local_df(
                rows or [(None, None)],
                "ref_name string, commit_id string").where(
                    "ref_name is not null" if not rows else "true")
        # SHOW LOGS [AT BRANCH <b>] IN <src>
        m = re.match(
            rf"\s*show\s+logs?{at}\s+in\s+({names})\s*$", query, re.I)
        if m:
            entries = dataplane.log(self._versioned_sources[m.group(2)],
                                    m.group(1) or None)
            rows = [(c["id"], c["branch"], c["author"], c["message"],
                     c["ts_ms"]) for c in entries]
            return self._local_df(
                rows, "commit_id string, branch string, author string, "
                      "message string, ts_ms long")
        # CREATE TABLE <src>.<key> [AT BRANCH b] [PARTITION BY (...)]
        #   AS <select>
        m = re.match(
            rf"\s*create\s+table\s+({names})\.((?:\w+\.)*\w+){at}"
            r"(?:\s+partition\s+by\s+\(([^)]*)\))?"
            r"\s+as\s+(.+)$", query, re.I | re.S)
        if m:
            src, key, branch = m.group(1), m.group(2), m.group(3) or None
            branch = branch or self._default_branch(src)
            df = self._sql_uncached(m.group(5).strip())
            part = ([c.strip() for c in m.group(4).split(",")]
                    if m.group(4) else None)
            cid = dataplane.ctas(
                self.spark, self._versioned_sources[src], branch,
                key, df, author=self.session_user, partition_by=part)
            return self._status("CREATE TABLE",
                                f"{src}.{key} @ {branch} ({cid})")
        # CREATE VIEW <src>.<key> [AT BRANCH b] AS <sql>
        m = re.match(
            rf"\s*create\s+(?:or\s+replace\s+)?view\s+"
            rf"({names})\.((?:\w+\.)*\w+){at}\s+as\s+(.+)$",
            query, re.I | re.S)
        if m:
            src, key = m.group(1), m.group(2)
            branch = m.group(3) or self._default_branch(src)
            cid = dataplane.create_view(
                self._versioned_sources[src], branch, key,
                m.group(4).strip(), author=self.session_user)
            return self._status("CREATE VIEW",
                                f"{src}.{key} @ {branch} ({cid})")
        # INSERT INTO <src>.<key> [AT BRANCH b] <select|values>
        m = re.match(
            rf"\s*insert\s+into\s+({names})\.((?:\w+\.)*\w+){at}"
            r"\s+(.+)$", query, re.I | re.S)
        if m:
            src, key = m.group(1), m.group(2)
            branch = m.group(3) or self._default_branch(src)
            body = m.group(4).strip()
            df = (self.spark.sql(body)
                  if re.match(r"values\b", body, re.I)
                  else self._sql_uncached(body))
            root = self._versioned_sources[src]
            tgt, content = dataplane.read_table(self.spark, root, key,
                                                ref=branch)
            # positional resolution + implicit INSERT cast to the
            # table's column types (VALUES literals arrive as
            # int/decimal; the writer's append check is strict)
            df = df.toDF(*[f.name for f in tgt.schema.fields])
            df = df.select(*[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in tgt.schema.fields])
            cid = dataplane.insert_into(self.spark, root, branch, key,
                                        df, author=self.session_user)
            return self._status("INSERT",
                                f"{src}.{key} @ {branch} ({cid})")
        # DELETE FROM <src>.<key> [AT BRANCH b] [WHERE p]
        m = re.match(
            rf"\s*delete\s+from\s+({names})\.((?:\w+\.)*\w+){at}"
            r"(?:\s+where\s+(.+?))?\s*$", query, re.I | re.S)
        if m:
            src, key = m.group(1), m.group(2)
            branch = m.group(3) or self._default_branch(src)
            cid = dataplane.delete_where(
                self.spark, self._versioned_sources[src], branch, key,
                m.group(4) or "true", author=self.session_user)
            return self._status("DELETE",
                                f"{src}.{key} @ {branch} ({cid})")
        # UPDATE <src>.<key> [AT BRANCH b] SET ... [WHERE p]
        m = sqltext.match(
            rf"\s*update\s+({names})\.((?:\w+\.)*\w+){at}"
            r"\s+set\s+(.+?)(?:\s+where\s+(.+?))?\s*$",
            query, re.I | re.S)
        if m:
            src, key = m.group(1), m.group(2)
            branch = m.group(3) or self._default_branch(src)
            cid = dataplane.update_where(
                self.spark, self._versioned_sources[src], branch, key,
                self._assignments(m.group(4)), m.group(5),
                author=self.session_user)
            return self._status("UPDATE",
                                f"{src}.{key} @ {branch} ({cid})")
        # ALTER TABLE <src>.<key> [AT BRANCH b]
        #   ADD COLUMNS (c type, ...) | DROP COLUMN c
        m = re.match(
            rf"\s*alter\s+table\s+({names})\.((?:\w+\.)*\w+){at}"
            r"\s+(?:add\s+columns\s*\(([^)]*)\)"
            r"|drop\s+column\s+(\w+))\s*$", query, re.I)
        if m:
            src, key = m.group(1), m.group(2)
            branch = m.group(3) or self._default_branch(src)
            add = self._column_defs(m.group(4)) if m.group(4) else None
            drop = [m.group(5)] if m.group(5) else None
            cid = dataplane.alter_table(
                self._versioned_sources[src], branch, key,
                add=add, drop=drop, author=self.session_user)
            return self._status("ALTER TABLE",
                                f"{src}.{key} @ {branch} ({cid})")
        # DROP TABLE/VIEW <src>.<key> [AT BRANCH b]
        m = re.match(
            rf"\s*drop\s+(?:table|view)\s+({names})\.((?:\w+\.)*\w+)"
            rf"{at}\s*$", query, re.I)
        if m:
            src, key = m.group(1), m.group(2)
            branch = m.group(3) or self._default_branch(src)
            cid = dataplane.drop_table(
                self._versioned_sources[src], branch, key,
                author=self.session_user)
            return self._status("DROP",
                                f"{src}.{key} @ {branch} ({cid})")
        return None

    def _default_branch(self, src: str) -> str:
        use = self._use_version_src.get(src)
        if use and use[0] == "branch":
            return use[1]
        return "main"

    def _expand_external_query(self, query: str) -> str:
        """table(<src>.external_query('<sql>')) → temp view of the
        remote result (ref `exec/tablefunctions/ExternalQuery.java`,
        `ExternalQueryScanPrel.java:38` — the query text ships verbatim
        to the source engine and only its result crosses the wire)."""
        def repl(m: sqltext.Match) -> str:
            src, remote_sql = m.group(1), m.group(2)
            s = self._ext_sources.get(src)
            if s is None:
                raise ValueError(f"no external source {src!r} attached")
            view = f"__extq_{abs(hash((src, remote_sql))) % 10**8}"
            s.external_query(remote_sql).createOrReplaceTempView(view)
            return view

        return sqltext.sub(
            r"table\(\s*(\w+)\s*\.\s*external_query\s*\(\s*"
            r"'([^']*)'\s*\)\s*\)",
            repl, query, re.I | re.S)

    def _expand_metadata_fns(self, query: str) -> str:
        """Rewrite TABLE(table_history('<path>')) et al. into temp views
        (ref `MetadataFunctionsMacro.java:36` TABLE_HISTORY/FILES/...)."""
        def repl(m: sqltext.Match) -> str:
            fn, path = m.group(1).lower(), m.group(2)
            view = f"__meta_{fn}_{abs(hash(path)) % 10**8}"
            getattr(self, fn)(path).createOrReplaceTempView(view)
            return view

        query = sqltext.sub(
            r"table\(\s*(" + "|".join(self._META_FNS) + r")\s*\(\s*"
            r"'([^']+)'\s*\)\s*\)",
            repl, query, re.I)

        # TABLE(table_changes('<path>', start [, end])) — Delta CDF TVF
        # (delta-spark's table_changes; protocol "Change Data Files")
        def repl_cdf(m: sqltext.Match) -> str:
            from .sources.delta import read_delta_cdf

            path, start = m.group(1), int(m.group(2))
            end = int(m.group(3)) if m.group(3) else None
            h = abs(hash((path, start, end))) % 10**8
            view = f"__meta_changes_{h}"
            read_delta_cdf(self.spark, path, start,
                           end).createOrReplaceTempView(view)
            return view

        return sqltext.sub(
            r"table\(\s*table_changes\s*\(\s*'([^']+)'\s*,\s*(\d+)"
            r"(?:\s*,\s*(\d+))?\s*\)\s*\)",
            repl_cdf, query, re.I)

    def _safe_equality_bindings(self, query: str, path: str) -> dict:
        """Extract `col = literal` bindings that are SAFE to prune the
        lake table's file set with: only when the query references
        exactly one table (this path — no JOIN, no second FROM source)
        and the WHERE clause is a pure conjunction (no OR anywhere), so
        every extracted conjunct must hold for every returned row.
        Pruning only ever narrows the FILE set; the unchanged WHERE
        still row-filters, so a missed binding costs nothing."""
        if len(re.findall(r"\b(from|join)\b", sqltext.mask(query),
                          re.I)) != 1:
            return {}
        m = sqltext.search(
            r"\bwhere\b(.*?)(\bgroup\s+by\b|\border\s+by\b|\blimit\b|$)",
            query, re.I | re.S)
        if not m or sqltext.search(r"\bor\b", m.group(1), re.I):
            return {}
        out: dict[str, object] = {}
        for part in sqltext.split(r"\band\b", m.group(1), re.I):
            pm = re.fullmatch(
                r"\s*(\w+)\s*=\s*(?:'([^']*)'|(-?\d+(?:\.\d+)?))\s*",
                part)
            if pm:
                col = pm.group(1)
                out[col] = (pm.group(2) if pm.group(2) is not None
                            else float(pm.group(3))
                            if "." in pm.group(3) else int(pm.group(3)))
        return out

    def create_dir_source(self, name: str, path: str) -> None:
        """Register a filesystem (dfs/NAS) source: `<name>.<table>` in
        SQL resolves to the dataset at `<path>/<table>` — the
        reference's FileSystemPlugin namespace (a NAS/S3 source's
        folders and files ARE its tables, format sniffed per
        `FormatCreator.java`)."""
        if not os.path.isdir(path):
            raise ValueError(f"no such directory: {path}")
        self._sources[name] = path

    @staticmethod
    def _has_parquet_shallow(root: str, budget: int = 512) -> bool:
        """Bounded OPENABLE-parquet probe: depth-first scandir that
        only descends through hive-style `key=value` partition dirs,
        with a global dirent budget and first-.parquet early exit.
        Spark's parquet reader opens exactly that shape (flat files or
        partition dirs at any depth) — parquet buried under arbitrary
        non-partition nesting is unreadable via `spark.read.parquet
        (root)`, so advertising such a folder would list an
        unqueryable table.  The budget bounds pathological wide
        parquet-free trees: listing stays O(budget) per candidate, not
        O(subtree)."""
        stack = [root]
        while stack and budget > 0:
            d = stack.pop()
            try:
                with os.scandir(d) as it:
                    for e in it:
                        budget -= 1
                        if budget < 0:
                            return False
                        if (e.is_file()
                                and e.name.endswith(".parquet")):
                            return True
                        if e.is_dir() and "=" in e.name:
                            stack.append(e.path)
            except OSError:
                pass
        return False

    def list_dir_source_tables(self, name: str) -> list[str]:
        """Dataset names visible under a dir source — only names the
        `<source>.<table>` resolver can actually open: identifier-named
        parquet folders and identifier-stemmed files with a registered
        extension (advertising an unqueryable entry is a lie the user
        hits at SELECT time)."""
        root = self._sources[name]
        out = set()
        for fn in sorted(os.listdir(root)):
            full = os.path.join(root, fn)
            if os.path.isdir(full):
                if (re.fullmatch(r"[A-Za-z_]\w*", fn)
                        and self._has_parquet_shallow(full)):
                    out.add(fn)
                continue
            base, ext = os.path.splitext(fn)
            if (ext.lstrip(".").lower() in
                    ("parquet", "csv", "tsv", "psv", "json")
                    and re.fullmatch(r"[A-Za-z_]\w*", base)):
                out.add(base)
        return sorted(out)

    def _expand_dir_sources(self, query: str) -> str:
        """Rewrite `<source>.<table>` refs over registered dir sources
        into temp views backed by the file/folder at
        `<root>/<table>[.<ext>]` (FileSystemPlugin resolution).  Views
        are namespaced `<source>__<table>` so two sources exposing the
        same table name never collide."""
        if not self._sources:
            return query

        def repl(m: sqltext.Match) -> str:
            name, tbl = m.group(1), m.group(2)
            root = self._sources[name]
            for cand in ([os.path.join(root, tbl)]
                         + [os.path.join(root, f"{tbl}.{e}")
                            for e in ("parquet", "csv", "tsv", "psv",
                                      "json")]):
                df = self._raw_path_df(cand)
                if df is not None:
                    df.createOrReplaceTempView(f"{name}__{tbl}")
                    return f"{name}__{tbl}"
            # not a dataset under the source: leave the token for Spark
            # — it may be a table alias or column qualifier that merely
            # shares the source's name
            return m.group(0)

        # masked: a match inside a quoted path such as
        # '…/testdata/sf0.01/x.parquet' must never be parsed as source
        # `testdata` table `sf0`
        names = "|".join(re.escape(n) for n in self._sources)
        return sqltext.sub(rf"\b({names})\.([A-Za-z_]\w*)\b", repl, query)

    def _raw_path_df(self, path: str) -> DataFrame | None:
        """DataFrame over a plain file/folder path, format by extension
        (parquet dirs, .parquet/.csv/.tsv/.psv/.json files) — the
        reference's query-the-filesystem-directly surface
        (`FormatCreator.java` sniffing under a dfs source).  None when
        the path isn't readable as a dataset."""
        if not os.path.exists(path):
            return None
        if os.path.isdir(path):
            has_parquet = any(
                fn.endswith(".parquet")
                for _, _, fns in os.walk(path) for fn in fns)
            return (self.spark.read.parquet(path)
                    if has_parquet else None)
        from .sources.formats import FormatRegistry

        ext = os.path.splitext(path)[1].lstrip(".").lower()
        if ext in ("parquet", "csv", "tsv", "psv", "json"):
            return FormatRegistry(self.spark).read(path, ext)
        return None

    def _expand_lake_refs(self, query: str) -> str:
        """Rewrite quoted lakehouse table refs in FROM/JOIN — with
        optional time travel — into temp views:
            SELECT ... FROM '<path>'
                [AT SNAPSHOT '<id>' | AT TIMESTAMP '<iso|epoch ms>']
        (ref: dremio-oss versioned table refs, `TimeTravelTableMacro`,
        `TestTableVersionParsing`).  Single-table conjunctive WHERE
        equality predicates additionally prune the file set through the
        stats/partition-aware scan planners before Spark ever plans the
        query.  Non-lakehouse quoted paths are left alone (Spark errors
        as before)."""
        def repl(m: sqltext.Match) -> str:
            kw, path = m.group(1), m.group(2)
            mode, arg = m.group(3), m.group(4) or m.group(5)
            codec = codec_of(path)
            if codec is None:
                # raw file/folder query (the reference's
                # dfs."/path" direct promotion: SELECT over plain
                # parquet dirs and csv/json/parquet files with format
                # sniffed from the extension)
                raw = self._raw_path_df(path)
                if raw is None or mode is not None:
                    return m.group(0)
                view = f"__raw_{abs(hash(path)) % 10**8}"
                raw.createOrReplaceTempView(view)
                return f"{kw} {view}"
            version = ts_ms = None
            if mode is None:
                # no explicit AT clause: the USE BRANCH/TAG/COMMIT session
                # context applies.  The IN-form override is authoritative
                # (errors if the ref is gone); the global form resolves
                # per-table and falls back to the current snapshot for
                # tables that don't carry the ref — our refs live
                # per-table rather than in a catalog-level Nessie, so a
                # global USE must not break unversioned tables (stated
                # deviation).
                use = self._use_version_in.get(path) or self._use_version
                if use is not None and self._is_iceberg(path):
                    kind, name = use
                    if kind == "commit":
                        version = int(name) if name.isdigit() else None
                    else:
                        from .sources.iceberg import resolve_ref
                        try:
                            version = resolve_ref(path, name)
                        except FileNotFoundError:
                            if self._use_version_in.get(path):
                                raise
            if mode is not None and mode.lower() == "snapshot":
                version = int(arg)
            elif mode is not None and mode.lower() in ("branch", "tag"):
                if not self._is_iceberg(path):
                    raise ValueError(
                        f"AT {mode.upper()} needs an Iceberg table "
                        f"(refs live in its metadata): {path}")
                from .sources.iceberg import resolve_ref

                version = resolve_ref(path, arg)
            elif mode is not None:  # AT TIMESTAMP '<iso datetime|epoch ms>'
                from datetime import datetime

                ts_ms = (int(arg) if arg.isdigit() else
                         int(datetime.fromisoformat(arg).timestamp() * 1000))
                version = codec.version_at(path, ts_ms)
            bindings = self._safe_equality_bindings(query, path)
            # column names come from the TABLE METADATA (one metaData
            # action / metadata.json read), never from a snapshot
            # resolve — at millions of files, replaying the log just to
            # list columns is the driver bottleneck the distributed
            # planner exists to avoid.  The (possibly empty) binding set
            # then goes through the codec's scan planner, which switches
            # to the DataFrame metadata path above the file-count
            # threshold.
            cols = codec.columns(path, version)
            df = codec.scan(
                self.spark, path,
                {c: v for c, v in bindings.items() if c in cols}, version)
            # the view embeds a file set PRUNED for THIS query's
            # bindings — keying the name by (path, version) alone let a
            # concurrent query's re-registration swap a differently
            # pruned set under this one (REST/Flight serve concurrently)
            view = "__lake_" + str(abs(hash(
                (path, version,
                 tuple(sorted((k, str(v))
                       for k, v in bindings.items()))))) % 10**8)
            df.createOrReplaceTempView(view)
            return f"{kw} {view}"

        return sqltext.sub(
            r"\b(from|join)\s+'([^']+)'"
            r"(?:\s+at\s+(snapshot|timestamp|branch|tag)\s+"
            r"(?:'([^']+)'|(\w+)))?",
            repl, query, re.I)

    # -- SQL entry ---------------------------------------------------------
    # statements the plan cache must never serve or retain: quoted lake
    # PATHS bind the scan to ONE snapshot (the reference likewise
    # refuses to cache versioned tables, PlanCacheUtils.java:43 "don't
    # allow these plans to enter the cache" — plain string literals are
    # fine), sys./INFORMATION_SCHEMA views re-materialize per call, and
    # plan-time-folded / non-deterministic functions would freeze their
    # fold (uncacheableFunctions in supportPlanCache)
    _PLAN_CACHE_SIZE = 128
    _PC_EXCLUDE = re.compile(
        r"'[^']*[/\\][^']*'"                      # path-like quoted ref
        r"|\bsys\s*\.|\binformation_schema\s*\."  # live catalog views
        r"|\b(last_query_id|is_member|current_timestamp|"
        r"current_date|current_time|now|rand|random|uuid|table)\s*\(",
        re.I)

    def sql(self, query: str) -> DataFrame:
        """Engine statement entry point, fronted by a PLAN CACHE
        (reference `PlanCache.java` / `PlanCacheUtils.supportPlanCache`):
        a repeated SELECT reuses its analyzed DataFrame — substitution
        probe, view expansion, and rewrites all skip — as long as no
        intervening engine statement could have changed what it sees.
        Invalidation is wholesale on ANY non-SELECT statement (DDL, DML,
        USE, ALTER SESSION, policy/reflection changes — the
        PlanCacheInvalidationHelper role); SELECTs naming quoted lake
        paths or plan-time-folded functions never enter the cache.
        The cached object is a PLAN, not rows — every hit re-executes.
        Contract: catalog changes must flow through engine statements
        or the reflection store (whose mutation counter also keys the
        generation); re-binding a session temp view behind the engine's
        back is outside the cache's visibility, as in the reference.

        Comments are removed here, once (hints kept), so every handler
        sees the statement itself.  The cache holds at most
        `_PLAN_CACHE_SIZE` (128) plans, least recently used evicted
        first, keyed by `sqltext.cache_key`: whitespace collapsed in
        code, each literal verbatim — `'a b'` and `'a  b'` are two
        entries, statements differing only in comments share one."""
        query = sqltext.strip_comments(query)
        is_select = bool(re.match(r"\s*(select|with)\b", query, re.I))
        cache = self._plan_cache
        if not is_select:
            self._plan_cache_gen += 1
            cache.clear()
            return self._sql_uncached(query)
        cacheable = (not getattr(self, "_accel_disabled", 0)
                     and not self._PC_EXCLUDE.search(query)
                     # versioned-source refs bind to ONE catalog commit
                     # at plan time, same exclusion as quoted lake paths
                     and not any(re.search(rf"\b{re.escape(n)}\.", query)
                                 for n in self._versioned_sources))
        if not cacheable:
            return self._sql_uncached(query)
        # the principal and namespace context are attribute-settable
        # (no statement to observe): they key the entry — a policied
        # plan folded for user A must never serve user B
        key = (sqltext.cache_key(query),
               getattr(self, "session_user", None),
               getattr(self, "_current_space", None))
        # generation = (statement counter, reflection-store mutation
        # counter): library-level refresh/rebuild/drop on the store
        # must invalidate too — a cached plan scanning a GC'd
        # materialization generation would fail or serve stale partials
        # (the reference's PlanCacheSynchronizer role)
        store = getattr(self, "_refl_store", None)

        def _gen():
            # generation also carries the EXPIRED-reflection set: grace
            # expiry flips with wall-clock time, not a store mutation,
            # so a cached substituted plan must stop serving the moment
            # its reflection crosses the grace boundary
            return (self._plan_cache_gen,
                    getattr(store, "mutations", 0),
                    store.expired_fingerprint()
                    if store is not None else None)

        gen = _gen()
        ent = cache.get(key)
        if ent is not None and ent[0] == gen:
            cache.move_to_end(key)
            self.plan_cache_hits += 1
            self.last_plan_accelerated = ent[2]
            self.last_count_from_metadata = ent[3]
            self.last_plan_considered = list(ent[4])
            self._query_seq += 1
            self._last_query_id = f"q-{self._query_seq}"
            return ent[1]
        df = self._sql_uncached(query)
        # recompute: planning may itself auto-refresh a stale
        # reflection (bumping the store counter); the entry must carry
        # the SETTLED generation or the very next hit re-plans
        store = getattr(self, "_refl_store", None)
        gen = _gen()
        cache[key] = (gen, df,
                      self.last_plan_accelerated,
                      self.last_count_from_metadata,
                      list(getattr(self, "last_plan_considered", [])))
        while len(cache) > self._PLAN_CACHE_SIZE:
            cache.popitem(last=False)
        return df

    def _sql_uncached(self, query: str) -> DataFrame:
        if re.search(r"\b__base_\w+", query):
            # `__base_<t>` temp views hold the PRE-POLICY snapshot of
            # policied tables; they are engine internals — naming one in
            # SQL (library, REST, or Flight) would bypass row-access and
            # masking policies entirely
            raise PermissionError(
                "__base_* names are reserved engine internals")
        self.last_count_from_metadata = None
        # reset HERE, not only inside _try_accelerate: statements that
        # return from earlier handlers (DDL, lake DML, SHOW ...) must
        # not inherit the previous query's acceleration marker —
        # same for the considered-candidates list
        self.last_plan_accelerated = None
        self.last_plan_considered = []
        if self._policy_built_for:
            self._ensure_policy_views()
        # catalog statements Spark SQL lacks: SHOW BRANCHES/TAGS/LOGS/FILES
        # IN '<path>'; LOGS is the table's commit history, FILES its live
        # data files
        m = re.match(
            r"\s*show\s+(branches|tags|logs|files)\s+in\s+'([^']+)'\s*$",
            query, re.I
        )
        if m:
            kind, path = m.group(1).lower(), m.group(2)
            return {"branches": self.show_branches, "tags": self.show_tags,
                    "logs": self.table_history,
                    "files": self.table_files}[kind](path)
        # SHOW TBLPROPERTIES '<path>' (SqlShowTableProperties)
        m = re.match(r"\s*show\s+tblproperties\s+'([^']+)'\s*$",
                     query, re.I)
        if m:
            return self.show_table_properties(m.group(1))
        # SHOW CREATE VIEW <space>.<name> | SHOW CREATE TABLE '<path>'
        # (SqlShowCreate, parserImpls.ftl:1834)
        m = re.match(r"\s*show\s+create\s+view\s+(\w+)\.(\w+)\s*$",
                     query, re.I)
        if m:
            return self.show_create_vds(m.group(1), m.group(2))
        m = re.match(r"\s*show\s+create\s+table\s+'([^']+)'\s*$",
                     query, re.I)
        if m:
            return self.show_create_table(m.group(1))
        # USE REF|BRANCH|TAG|COMMIT <name> [IN '<path>']
        # (versionSupport.ftl SqlUseVersion): session default version
        # context; per-path IN form pins one table, the global form
        # applies to every versioned table carrying that ref
        m = re.match(
            r"\s*use\s+(ref|reference|branch|tag|commit)\s+(\w+)"
            r"(?:\s+in\s+'([^']+)')?\s*$", query, re.I)
        if m:
            kind = {"reference": "ref"}.get(
                m.group(1).lower(), m.group(1).lower())
            name, path = m.group(2), m.group(3)
            if path:
                from .sources.iceberg import resolve_ref
                if kind != "commit":
                    resolve_ref(path, name)  # fail fast on unknown refs
                self._use_version_in[path] = (kind, name)
            else:
                # the latest USE wins everywhere: a global USE replaces
                # any per-path/per-source overrides from earlier
                # IN-form statements
                self._use_version_in.clear()
                self._use_version_src.clear()
                self._use_version = (kind, name)
            return self._status(
                "USE VERSION",
                f"{kind} {name}" + (f" in {path}" if path else ""))
        # REFRESH DATASET <name> / ALTER TABLE <name> REFRESH METADATA
        m = re.match(
            r"\s*(?:refresh\s+dataset\s+(\w+)"
            r"|alter\s+table\s+(\w+)\s+refresh\s+metadata)\s*$",
            query, re.I)
        if m:
            name = m.group(1) or m.group(2)
            delta = self.refresh_dataset(name)
            return self._status(
                "REFRESH DATASET",
                "metadata cache invalidated" if delta is None else
                f"added {delta['added']}, removed {delta['removed']}")
        # ALTER SESSION SET "key" = value | ALTER SESSION RESET "key"
        m = re.match(
            r"\s*alter\s+session\s+(?:set\s+\"?([\w.]+)\"?\s*=\s*"
            r"(?:'([^']*)'|(\S+))|reset\s+\"?([\w.]+)\"?)\s*$",
            query, re.I)
        if m:
            if m.group(4):
                self.reset_session(m.group(4))
                return self._status("ALTER SESSION RESET", m.group(4))
            val = m.group(2) if m.group(2) is not None else m.group(3)
            self.alter_session(m.group(1), val)
            return self._status("ALTER SESSION SET",
                                f"{m.group(1)} = {val}")
        stmt = self._admin_statement(query)
        if stmt is not None:
            return stmt
        # catalog-level versioned sources (Nessie dataplane): branch
        # DDL IN <source>, USE BRANCH per source, table DDL/DML on
        # <source>.<key> refs — before the per-table path arms so an
        # unquoted registered source name never reaches Spark's parser
        stmt = self._dataplane_statement(query)
        if stmt is not None:
            return stmt
        # branch/tag DDL on Iceberg paths (Nessie grammar,
        # parserImpls.ftl:943, over the spec refs map)
        m = re.match(
            r"\s*(?:create\s+(branch|tag)\s+(\w+)"
            r"(?:\s+at\s+snapshot\s+'?(\d+)'?)?"
            r"|drop\s+(?:branch|tag)\s+(\w+)"
            r"|merge\s+branch\s+(\w+)\s+into\s+(\w+))"
            r"\s+in\s+'([^']+)'\s*$", query, re.I)
        if m and self._is_iceberg(m.group(7)):
            from .sources.iceberg import (create_iceberg_ref,
                                          drop_iceberg_ref,
                                          merge_iceberg_branch)

            path = m.group(7)
            if m.group(1):
                sid = create_iceberg_ref(
                    path, m.group(2), m.group(1).lower(),
                    int(m.group(3)) if m.group(3) else None)
                return self._status(f"CREATE {m.group(1).upper()}",
                                    f"{m.group(2)} @ {sid}")
            if m.group(4):
                drop_iceberg_ref(path, m.group(4))
                return self._status("DROP REF", m.group(4))
            sid = merge_iceberg_branch(path, m.group(5), m.group(6))
            return self._status("MERGE BRANCH",
                                f"{m.group(5)} -> {m.group(6)} @ {sid}")
        # ALTER BRANCH/TAG <name> ASSIGN (BRANCH|TAG|REF|SNAPSHOT) <to>
        # IN '<path>' (SqlAssignBranch/SqlAssignTag, versionSupport.ftl)
        m = re.match(
            r"\s*alter\s+(?:branch|tag)\s+(\w+)\s+assign\s+"
            r"(branch|tag|ref|snapshot)\s+'?(\w+)'?\s+in\s+'([^']+)'\s*$",
            query, re.I)
        if m and self._is_iceberg(m.group(4)):
            from .sources.iceberg import assign_iceberg_ref

            sid = assign_iceberg_ref(m.group(4), m.group(1),
                                     m.group(2).lower(), m.group(3))
            return self._status(
                "ASSIGN REF", f"{m.group(1)} -> {m.group(3)} @ {sid}")
        # EXPLAIN PLAN FOR <query or DML> (parserImpls.ftl:1726
        # SqlExplainQueryDML): dry-run — for lake DML, describe the
        # planned action and the scan that would find the hit rows,
        # committing nothing; for queries, the Spark plan text
        m = re.match(r"\s*explain\s+plan\s+for\s+(.+)$", query,
                     re.I | re.S)
        if m:
            return self._explain_statement(m.group(1).strip())
        # bare SELECT COUNT(*) FROM '<lake path>': answer from commit
        # metadata (Delta add.stats numRecords / Iceberg file stats) with
        # no scan — the reference's CountOnScanToValuesRule
        # (PlannerPhase.java:337).  Conservative: falls through whenever
        # any live file lacks stats or merge-on-read deletes exist, or a
        # USE version context could shift the snapshot.
        m = re.match(
            r"\s*select\s+count\s*\(\s*\*\s*\)(?:\s+as\s+(\w+))?"
            r"\s+from\s+'([^']+)'\s*$", query, re.I)
        if (m and codec_of(m.group(2))
                and not self._use_version
                and m.group(2) not in self._use_version_in):
            n = self._count_from_metadata(m.group(2))
            if n is not None:
                self.last_count_from_metadata = m.group(2)
                alias = m.group(1) or "count(1)"
                return self._local_df([(n,)], f"`{alias}` long")
        refl = self._reflection_statement(query)
        if refl is not None:
            return refl
        lake = self._lake_statement(query)
        if lake is not None:
            # lake DML is a BASE-TABLE COMMIT: dependents of a
            # path-anchored reflection go stale (OPTIMIZE/VACUUM are
            # row-preserving and excluded)
            m = re.match(
                r"\s*(?:create\s+table|insert\s+into|delete\s+from|"
                r"update|merge\s+into|rollback\s+table|copy\s+into|"
                r"truncate|"
                r"alter\s+table)"  # schema changes invalidate too
                r"[^']*'([^']+)'", query, re.I | re.S)
            if m:
                view = getattr(self, "_path_refl_views", {}).get(
                    os.path.normpath(m.group(1)))
                if view:
                    self._mark_reflections_stale(view)
            return lake
        # the probe analyzes through Spark, so dialect names are
        # rewritten first (NDV( -> approx_count_distinct( etc.), once;
        # the workload recorder keeps reading the user's names
        user_query = query
        query = _dialect(query)
        accelerated = self._try_accelerate(query)
        probe, self._probe = self._probe, None
        # workload recording for the reflection suggester
        # (ReflectionSuggester.java): parse-only, fail-safe, no planning
        try:
            from .plans.suggester import AggWorkloadRecord, parse_agg_shape

            rec = parse_agg_shape(user_query)
            if rec is None and re.match(r"\s*select\b", query, re.I) \
                    and re.search(r"\bgroup\s+by\b", query, re.I):
                # aggregate-shaped but outside the per-dataset analyzer
                # scope (joins/subqueries — ReflectionSuggester.java is
                # likewise per-dataset): COUNT it so a star-join
                # workload surfaces as "N unparsed aggregates" in
                # sys.reflection_recommendations instead of looking
                # like no workload at all
                self._agg_workload_skipped = getattr(
                    self, "_agg_workload_skipped", 0) + 1
            if rec is not None:
                log = getattr(self, "_agg_workload", None)
                if log is None:
                    log = self._agg_workload = []
                log.append(AggWorkloadRecord(
                    rec.dataset, rec.dims, rec.measures,
                    accelerated is not None))
                # bounded: a long-lived server must not grow the log
                # with the query stream — shapes repeat, and the
                # suggester only counts, so dropping the OLDEST half
                # keeps recent workload representative
                if len(log) > 100_000:
                    del log[:50_000]
        except Exception:  # noqa: BLE001 — recording must never break SQL
            pass
        if accelerated is not None:
            return accelerated
        query = self._expand_external_query(query)
        query = self._expand_sys_tables(query)
        query = self._expand_dir_sources(query)
        query = self._expand_metadata_fns(query)
        query = self._expand_versioned_refs(query)
        query = self._expand_lake_refs(query)
        query = self._expand_tabular(query)
        query = _rewrite_convert(query)
        query = self._expand_context_fns(query)
        self._ensure_shims(query)  # after rewrites: they may introduce shims
        query = self._resolve_vds_names(query)
        # the probe already analyzed this very text: reuse its frame
        df = (probe[1] if probe is not None and probe[0] == query
              else self.spark.sql(query))
        self._query_seq += 1
        self._last_query_id = f"q-{self._query_seq}"
        return df

    def _explain_statement(self, stmt: str) -> DataFrame:
        """EXPLAIN PLAN FOR body: one row per plan aspect.  Lake DML
        explains as (action, target, format, predicate, scan plan of the
        hit-row read) without executing; anything else explains as a
        query through Spark."""
        m = sqltext.match(
            r"(delete)\s+from\s+'([^']+)'(?:\s+where\s+(.+))?$"
            r"|(update)\s+'([^']+)'\s+set\s+(.+?)(?:\s+where\s+(.+))?$"
            r"|(merge)\s+into\s+'([^']+)'\s",
            stmt, re.I | re.S)
        if m:
            if m.group(1):
                action, path, pred = "DELETE", m.group(2), m.group(3)
            elif m.group(4):
                action, path, pred = "UPDATE", m.group(5), m.group(7)
            else:
                action, path, pred = "MERGE", m.group(9), None
            codec = codec_of(path)
            if codec is not None:
                df = self.sql(f"select * from '{path}'")
                if pred:
                    df = df.where(pred)
                plan = df._jdf.queryExecution().executedPlan().toString()
                rows = [
                    ("action", f"{action} (copy-on-write rewrite of hit "
                               "files; merge-on-read commits delete "
                               "metadata instead)"),
                    ("target", path),
                    ("format", codec.name),
                    ("predicate", pred or ""),
                    ("hit_scan_plan", plan[:4000]),
                ]
                return self._local_df(
                    rows, "aspect string, detail string")
        # other MUTATING statements: describe without EXECUTING — the
        # fallback explain() runs self.sql(), which applies DML/DDL for
        # real (a review finding: EXPLAIN PLAN FOR INSERT inserted)
        m = re.match(
            r"\s*(insert\s+into|create\s+table|copy\s+into|truncate|"
            r"rollback\s+table|optimize\s+table|vacuum)\b"
            r"[^']*'([^']+)'(.*)$", stmt, re.I | re.S)
        if m:
            verb, path = m.group(1).upper().split()[0], m.group(2)
            rows = [("action", f"{verb} (dry-run: nothing committed)"),
                    ("target", path),
                    ("format", getattr(codec_of(path), "name", "path"))]
            sel = re.search(r"\b(select\b.+)$", stmt, re.I | re.S)
            if sel:  # the data-producing half plans read-only
                rows.append(("source_plan",
                             self.explain(sel.group(1))[:4000]))
            return self._local_df(
                rows, "aspect string, detail string")
        if re.match(r"\s*(insert|create|drop|alter|merge|delete|update|truncate|"
                    r"copy|rollback|optimize|vacuum|grant|revoke)\b",
                    stmt, re.I):
            return self._local_df(
                [("action", "dry-run: statement recognized as DDL/DML; "
                            "nothing committed"),
                 ("statement", stmt[:4000])],
                "aspect string, detail string")
        return self._local_df(
            [("plan", self.explain(stmt))], "aspect string, detail string")

    def _count_from_metadata(self, path: str) -> int | None:
        """Exact row count from commit metadata, or None when any live
        file lacks a numRecords stat or merge-on-read deletes make the
        metadata count unsound (equality deletes can't be counted
        without scanning)."""
        codec = codec_of(path)
        stats = codec.file_stats(codec.at(self.spark, path, None))
        if stats is None:
            return None
        total = 0
        for st in stats:
            if not st or "numRecords" not in st:
                return None
            total += int(st["numRecords"])
        return total

    def _expand_context_fns(self, query: str) -> str:
        """Coordinator-side context functions (ContextFunctions.java,
        DremioSqlOperatorTable IS_MEMBER / LAST_QUERY_ID): both depend on
        engine session state Spark can't see, so they fold to literals at
        plan time — exactly where the reference evaluates them."""
        def _member(m: sqltext.Match) -> str:
            role = m.group(1)
            return (
                "true" if role in self._principals(self.session_user)
                else "false"
            )

        query = sqltext.sub(
            r"\bis_member\s*\(\s*'([^']*)'\s*\)", _member, query, re.I
        )
        last = f"'{self._last_query_id}'" if self._last_query_id else \
            "cast(null as string)"
        return sqltext.sub(r"\blast_query_id\s*\(\s*\)", last, query, re.I)
