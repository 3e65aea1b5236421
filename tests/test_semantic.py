"""Semantic layer: VDS, spaces, dialect shims, sys tables."""

from __future__ import annotations

import pytest

from dremio_oss_spark.engine import Engine
from dremio_oss_spark.queries import semantic_q

from .conftest import SF_SMALL
from .oracle import compare, duckdb_conn


@pytest.fixture(scope="module")
def oracle():
    con = duckdb_conn(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(semantic_q.SEMANTIC_ORACLE))
def test_semantic_parity(spark, oracle, name):
    df = semantic_q.SEMANTIC_QUERIES[name](spark, SF_SMALL)
    expected = oracle.execute(semantic_q.SEMANTIC_ORACLE[name]).fetchdf()
    problems = compare(df, expected, ordered=False)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_ndv_dialect_shim(spark):
    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    rows = eng.sql("select NDV(o_custkey) as ndv from orders").collect()
    assert rows[0]["ndv"] > 0


def test_vds_drop(spark):
    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    eng.create_vds("s1", "v1", "select 1 as x")
    assert eng.table("s1.v1").collect()[0]["x"] == 1
    eng.drop_vds("s1", "v1")
    with pytest.raises(Exception):
        eng.table("s1.v1").collect()


def test_sys_tables(spark):
    eng = Engine(spark)
    assert eng.sys_version().collect()[0]["version"] == spark.version
    opts = {r["name"]: r["value"] for r in eng.sys_options().collect()}
    assert opts["spark.sql.adaptive.enabled"] == "true"


def test_explain_shows_pushdown(spark):
    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    plan = eng.explain(
        "select l_returnflag from lineitem where l_shipdate <= date '1998-09-02'"
    )
    assert "PushedFilters" in plan and "l_shipdate" in plan


def test_context_functions(spark):
    eng = Engine(spark)
    row = eng.sql(
        "select query_user() as qu, current_schema_fn() as cs, "
        "typeof(1.5d) as t"
    ).collect()[0]
    assert row["qu"]
    assert row["cs"]
    assert row["t"] == "double"


def test_grant_revoke_enforcement(spark):
    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    # open by default
    assert eng.table("region", user="alice").count() == 5
    eng.grant("SELECT", "region", "bob")
    assert eng.table("region", user="bob").count() == 5
    with pytest.raises(PermissionError):
        eng.table("region", user="alice")
    eng.revoke("SELECT", "region", "bob")
    with pytest.raises(PermissionError):
        eng.table("region", user="bob")


def test_hive_udf_registry_gated(spark):
    """Hive UDF loading surface exists and gates cleanly on the missing
    jar (no UDF bundles ship in this sandbox)."""
    import pytest as _pytest

    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    with _pytest.raises(FileNotFoundError, match="jar"):
        eng.register_hive_udf(
            "my_upper", "com.example.hive.UpperUDF", "/nonexistent/udfs.jar"
        )


def test_show_files_functions_create_use_truncate(spark, tmp_path):
    """Remaining Parser.tdd statement surface: table_files, SHOW
    FUNCTIONS, SHOW CREATE (VDS), USE, TRUNCATE TABLE."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.sources.iceberg import resolve_snapshot, write_iceberg

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)

    t = str(tmp_path / "nation_t")
    write_iceberg(spark, load(spark, SF_SMALL, "nation"), t)
    files = eng.table_files(t).collect()
    assert files and all(r["file_path"].endswith(".parquet") for r in files)
    assert all(r["size_bytes"] > 0 for r in files)

    fns = {r[0] for r in eng.show_functions().collect()}
    assert "geo_distance" in fns  # shim registered
    assert any("abs" in f for f in fns)  # built-in present

    eng.create_space("sales")
    eng.create_vds("sales", "big_nations",
                   "select n_name from nation where n_nationkey > 10")
    ddl = eng.show_create_vds("sales", "big_nations").collect()[0]["ddl"]
    assert ddl.startswith("CREATE VDS sales.big_nations AS select n_name")

    eng.use("sales")
    assert eng.table("big_nations").count() == eng.table("sales.big_nations").count()

    def count(at: str = "") -> int:
        return eng.sql(f"select count(*) as c from '{t}'{at}").collect()[0]["c"]

    n_before = count()
    snap_before = resolve_snapshot(t).snapshot_id
    eng.sql(f"TRUNCATE TABLE '{t}'")
    assert count() == 0
    assert count(f" at snapshot '{snap_before}'") == n_before  # time travel


def test_tabular_udf_expansion_and_similar_to(spark):
    """Tabular SQL UDFs expand inline at plan time
    (TabularUserDefinedFunctionExpanderRule.java); SIMILAR TO shim
    follows SQL-standard wildcard semantics."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    eng.create_tabular_udf(
        "big_nations", ["min_key"],
        "select n_nationkey, n_name from nation where n_nationkey > min_key",
    )
    n = eng.sql("select count(*) as n from table(big_nations(10))").collect()[0]["n"]
    direct = eng.sql(
        "select count(*) as n from nation where n_nationkey > 10"
    ).collect()[0]["n"]
    assert n == direct > 0
    # expansion stays declarative: an outer filter pushes into the body
    plan = (
        eng.sql("select * from table(big_nations(0)) where n_nationkey < 5")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan

    rows = eng.sql("""
        select similar_to('dremio', 'dr%') as a,
               similar_to('dremio', 'd_emio') as b,
               similar_to('dremio', 'd%x') as c,
               similar_to('abc', '(a|z)bc') as d
    """).collect()[0]
    assert (rows["a"], rows["b"], rows["c"], rows["d"]) == (True, True, False, True)


def test_roles_explain_json_sys_jobs(spark):
    """Role-based grants resolve transitively; EXPLAIN JSON serializes
    the optimized plan; sys.jobs surfaces the status tracker."""
    import json as _json

    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)

    # analyst -> reporting -> (grant on nation to reporting)
    eng.grant("SELECT", "nation", "reporting")
    eng.grant_role("reporting", "alex")
    assert eng.check_access("alex", "SELECT", "nation")
    assert not eng.check_access("sam", "SELECT", "nation")
    eng.grant_role("analysts", "sam")
    eng.grant_role("reporting", "analysts")  # nested role
    assert eng.check_access("sam", "SELECT", "nation")
    eng.revoke("SELECT", "nation", "reporting")
    # the privilege entry survives with an empty allowlist: deny-all
    # (revoking the last grantee must not silently reopen the object)
    assert not eng.check_access("sam", "SELECT", "nation")

    js = eng.explain("select n_name from nation where n_nationkey = 1", mode="json")
    parsed = _json.loads(js)
    assert isinstance(parsed, list) and parsed  # list of plan nodes
    assert "class" in parsed[0]

    assert eng.sys_jobs().columns == [
        "job_id", "status", "n_stages", "query_type", "user_name",
        "sql", "start_ms", "end_ms", "planning_ms", "execution_ms",
        "accelerated_by", "rows_returned"]


def test_dialect_rewrites_and_sys_reflections(spark, tmp_path):
    """Dremio dialect forms run unchanged through engine.sql:
    NDV, FLATTEN, CONVERT_TO/FROM with codec literals; sys.reflections
    lists registered materializations."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.plans import Measure

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)

    r = eng.sql("select NDV(n_regionkey) as ndv from nation").collect()[0]
    assert r["ndv"] == 5

    r = eng.sql(
        "select FLATTEN(array(1, 2, 3)) as x from (select 1)"
    ).collect()
    assert sorted(row["x"] for row in r) == [1, 2, 3]

    r = eng.sql(
        "select CONVERT_FROM(CONVERT_TO('abc', 'UTF8'), 'UTF8') as s, "
        "CONVERT_FROM(CONVERT_TO(42, 'INT_BE'), 'INT_BE') as i, "
        "CONVERT_TO('xy', 'BASE64') is not null as b"
    ).collect()[0]
    assert (r["s"], r["i"], r["b"]) == ("abc", 42, True)

    assert eng.sys_reflections().count() == 0
    eng.create_space("m2")
    eng.create_vds("m2", "nk", "select n_nationkey, n_regionkey from nation")
    eng.create_vds_reflection(
        "m2", "nk", "nk_by_region",
        dims=["n_regionkey"], measures=[Measure("count", "*")],
        root=str(tmp_path / "refl"),
    )
    rows = eng.sys_reflections().collect()
    assert len(rows) == 1 and rows[0]["reflection_name"] == "nk_by_region"
    assert rows[0]["dataset"] == "m2.nk"


def test_iceberg_dml_sequence_model(spark, tmp_path):
    """Model-based sequence over the Iceberg surface: interleaved
    appends, COW update, positional + equality MOR deletes, OPTIMIZE,
    rollback, and a branch write — the table must equal a plain dict
    model at every step (interaction coverage across features that were
    each tested alone)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        create_iceberg_ref, delete_from_iceberg, optimize_iceberg,
        read_iceberg, rollback_iceberg, update_iceberg, write_iceberg)

    t = str(tmp_path / "t")

    def to_df(rows):
        return spark.createDataFrame(
            [(k, v) for k, v in sorted(rows.items())], "k long, v double")

    def check(model):
        got = {r["k"]: r["v"] for r in read_iceberg(spark, t).collect()}
        assert got == model, (len(got), len(model))

    model = {i: float(i) for i in range(40)}
    s0 = write_iceberg(spark, to_df(model), t)
    check(model)

    # positional MOR delete
    delete_from_iceberg(spark, t, "k % 4 = 0", mode="merge-on-read")
    model = {k: v for k, v in model.items() if k % 4 != 0}
    check(model)

    # append on top of live MOR deletes
    model.update({100 + i: float(i) for i in range(10)})
    write_iceberg(spark, to_df({100 + i: float(i) for i in range(10)}),
                  t, mode="append")
    check(model)

    # equality MOR delete stacked on positional
    delete_from_iceberg(spark, t, "k in (1, 101)", mode="merge-on-read",
                        equality_cols=["k"])
    model = {k: v for k, v in model.items() if k not in (1, 101)}
    check(model)

    # COW update applies both delete kinds before rewriting
    update_iceberg(spark, t, {"v": "v + 1000"}, "k >= 100")
    model = {k: (v + 1000 if k >= 100 else v) for k, v in model.items()}
    check(model)

    # compaction folds all deletes; rows unchanged
    optimize_iceberg(spark, t)
    check(model)

    # branch write stays isolated; main unchanged
    create_iceberg_ref(t, "exp", "branch")
    write_iceberg(spark, to_df({999: 9.0}), t, mode="append", branch="exp")
    check(model)
    assert read_iceberg(spark, t, ref="exp").count() == len(model) + 1

    # rollback to the very first snapshot restores the original rows
    rollback_iceberg(t, s0)
    check({i: float(i) for i in range(40)})


def test_information_schema_sql_addressable(spark):
    """INFORMATION_SCHEMA.TABLES/VIEWS/SCHEMATA resolve directly in
    engine SQL (InfoSchemaStoragePlugin surface)."""
    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    for q in ("select table_name from information_schema.tables",
              'select table_name from information_schema."TABLES"'):
        names = {r["table_name"] for r in eng.sql(q).collect()}
        assert {"lineitem", "orders"} <= names
    eng.create_space("isdemo")
    eng.create_vds("isdemo", "v1", "select 1 as x")
    views = {r["table_name"] for r in eng.sql(
        "select table_name from information_schema.views").collect()}
    assert "isdemo__v1" in views
    assert eng.sql(
        "select * from information_schema.schemata").count() >= 1
    cols = {r["column_name"] for r in eng.sql(
        "select * from information_schema.columns "
        "where table_name = 'region'").collect()}
    assert cols == {"r_regionkey", "r_name"}


def test_profiled_sql_library_flow(spark):
    """Library-level job telemetry (the JobsService submit shape
    without a server): profiled_sql registers + times planning,
    finish_job snapshots executed-plan operator metrics, and sys.jobs
    surfaces the job with its SQL/timings/rows."""
    import time as _time

    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    df, jid = eng.profiled_sql(
        "select r_regionkey, count(*) as n from region "
        "group by r_regionkey", user="alex")
    t0 = _time.perf_counter()
    rows = df.collect()
    eng.finish_job(jid, df=df, row_count=len(rows),
                   execution_ms=(_time.perf_counter() - t0) * 1000)
    prof = eng.job_telemetry.profile(jid)
    assert prof["state"] == "COMPLETED" and prof["queryUser"] == "alex"
    assert prof["queryType"] == "LIBRARY"
    assert "HashAggregate" in prof["plan"]
    assert any(o["metrics"].get("number of output rows", 0) > 0
               for o in prof["operators"])
    row = {r["job_id"]: r for r in eng.sys_jobs().collect()}[jid]
    assert row["user_name"] == "alex" and row["rows_returned"] == 5
    # failed planning profiles as FAILED and re-raises
    import pytest as _pytest
    with _pytest.raises(Exception):
        eng.profiled_sql("select * from nope_xyz")
    failed = [j for j in eng.job_telemetry.listing(state="FAILED")["jobs"]
              if "nope_xyz" in j["queryText"]]
    assert len(failed) == 1 and failed[0]["isComplete"]


def test_profile_acceleration_considered_reflections(spark):
    """The job profile's acceleration section lists the substitution
    CANDIDATES, not just the chosen one (the reference profile's
    considered/matched reflections): two covering agg reflections ->
    both considered, the cheaper chosen; an unaccelerable query
    considers nothing."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    eng.sql("ALTER TABLE nation CREATE AGGREGATE REFLECTION cons_a "
            "USING DIMENSIONS (n_regionkey) "
            "MEASURES (n_nationkey (SUM))")
    eng.sql("ALTER TABLE nation CREATE AGGREGATE REFLECTION cons_b "
            "USING DIMENSIONS (n_regionkey, n_name) "
            "MEASURES (n_nationkey (SUM))")
    q = ("select n_regionkey, sum(n_nationkey) as s from nation "
         "group by n_regionkey")
    df, jid = eng.profiled_sql(q)
    df.collect()
    prof = eng.job_telemetry.profile(jid)
    assert set(prof["consideredReflections"]) == {"cons_a", "cons_b"}
    # fewer dims wins the costing
    assert prof["accelerated_by"] == "cons_a"
    df, jid = eng.profiled_sql("select count(*) as n from region")
    df.collect()
    prof = eng.job_telemetry.profile(jid)
    assert prof["consideredReflections"] == []
    assert prof["accelerated_by"] is None


def test_review_findings_r12_lineage_and_considered(spark):
    """Pins for the third self-review pass: consideredReflections
    resets for non-probe statements and carries through plan-cache
    hits; dataset_graph is case-insensitive, parses comma joins, and
    survives apostrophes in comments; number->TIME serials are
    session-timezone-free."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    eng.sql("ALTER TABLE nation CREATE AGGREGATE REFLECTION pin_agg "
            "USING DIMENSIONS (n_regionkey) "
            "MEASURES (n_nationkey (SUM))")
    q = ("select n_regionkey, sum(n_nationkey) as s from nation "
         "group by n_regionkey")
    eng.sql(q)
    assert eng.last_plan_considered == ["pin_agg"]
    # a statement that never probes must not inherit the list
    eng.sql("show schemas")
    assert eng.last_plan_considered == []
    # plan-cache hit restores the considered list with the frame
    eng.sql(q)  # miss or hit — prime
    eng.sql(q)  # definite hit
    assert eng.last_plan_considered == ["pin_agg"]
    assert eng.last_plan_accelerated == "pin_agg"
    # dataset_graph: case-insensitive VDS + reflections, comma joins,
    # comment apostrophes
    eng.create_space("pin")
    eng.create_vds("pin", "v1", "select n_nationkey, n_regionkey "
                                "from nation")
    g = eng.dataset_graph(
        "select * -- don't trip on this\n"
        "from PIN.V1 p, region r where p.n_regionkey = r.r_regionkey")
    nodes = {n["id"]: n for n in g}
    assert nodes["pin.v1"]["datasetType"] == "VIRTUAL_DATASET"
    assert nodes["pin.v1"]["parents"] == ["nation"]
    assert "region" in nodes  # comma-join table captured
    assert "pin_agg" in nodes["nation"]["reflections"]
    # NUMBER->TIME serial is zone-free
    from dremio_oss_spark.explore import _field_transform_sql

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        expr = _field_transform_sql(
            {"type": "ConvertNumberToDate",
             "numberToDate": {"format": "EPOCH",
                              "desiredType": "TIME"}}, "3661")
        got = spark.sql(f"select {expr} as t").first()["t"]
        assert got == "01:01:01", got
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_dataset_graph_block_comments_and_double_quotes(spark):
    """Review pin: the lineage scanner handles /* */ block comments
    and double-quoted strings in one pass — an apostrophe inside
    either must not swallow later FROM clauses; physical node ids keep
    the query's spelling."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    g = eng.dataset_graph(
        '/* don\'t */ select * from nation n '
        'join region r on n.n_regionkey = r.r_regionkey '
        'where r.r_name <> "it\'s fine" '
        "union all select * from nation, region")
    ids = {n["id"] for n in g}
    assert ids == {"nation", "region"}
    g = eng.dataset_graph("select * from NATION")
    assert [n["id"] for n in g] == ["NATION"]  # query spelling kept
