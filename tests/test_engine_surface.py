"""Statement-surface completion: folders, SHOW TBLPROPERTIES, DESCRIBE
FUNCTION, ALTER ENGINE, COMPACT/LOAD MATERIALIZATION (the remaining
productions in the reference grammar, parserImpls.ftl)."""

from __future__ import annotations

import re

import pytest

from dremio_oss_spark.catalog import load
from dremio_oss_spark.engine import Engine
from dremio_oss_spark.plans import Measure

from .conftest import SF_SMALL, count_jobs


@pytest.fixture(scope="module")
def engine(spark):
    e = Engine(spark)
    e.add_testdata_source(SF_SMALL)
    return e


def test_folders_nest_and_protect(engine):
    engine.create_space("marketing")
    engine.create_folder("marketing", "emea.reports")
    assert {"emea", "emea.reports"} <= engine.spaces["marketing"].folders

    # a VDS inside a folder resolves through the dotted path
    engine.create_vds(
        "marketing", "emea.reports.top_nations",
        "select n_name from nation order by n_name limit 3",
    )
    rows = engine.table("marketing.emea.reports.top_nations").collect()
    assert len(rows) == 3

    # VDS in an unknown folder is rejected; non-empty folder can't drop
    with pytest.raises(ValueError, match="no such folder"):
        engine.create_vds("marketing", "nope.v", "select 1")
    with pytest.raises(ValueError, match="not empty"):
        engine.drop_folder("marketing", "emea.reports")
    engine.drop_vds("marketing", "emea.reports.top_nations")
    engine.drop_folder("marketing", "emea.reports")
    assert "emea.reports" not in engine.spaces["marketing"].folders


def test_show_table_properties(engine, spark, tmp_path):
    """SHOW TBLPROPERTIES lists format, location and the table's own
    properties; snapshot, history and refs come from the table_*
    functions."""
    from dremio_oss_spark.sources.iceberg import write_iceberg

    t = str(tmp_path / "props_t")
    write_iceberg(spark, load(spark, SF_SMALL, "region"), t,
                  properties={"write.update.mode": "merge-on-read"})
    engine.sql(f"CREATE TAG v1 IN '{t}'")
    props = {r["property"]: r["value"]
             for r in engine.sql(f"SHOW TBLPROPERTIES '{t}'").collect()}
    assert props["format"] == "parquet" and props["location"] == t
    assert props["write.update.mode"] == "merge-on-read"
    snap = engine.table_snapshot(t).collect()[0]
    assert snap["format"] == "iceberg" and snap["n_files"] >= 1
    assert engine.table_history(t).count() == 1
    refs = {(r["ref_name"], r["type"]) for r in
            engine.table_refs(t).collect()}
    assert refs == {("main", "branch"), ("v1", "tag")}


def test_describe_function_shim_and_native(engine):
    shim = engine.describe_function("hash64").collect()[0]
    assert shim["kind"] == "sql_shim" and shim["body"]
    nat = engine.describe_function("abs").collect()[0]
    assert nat["kind"] == "native" and "abs" in nat["body"].lower()


def test_alter_engine_bounds(engine):
    engine.alter_engine("preview", min_replicas=1, max_replicas=4)
    engine.alter_engine("preview", max_replicas=8)
    rows = {r["engine"]: r for r in engine.sys_engines().collect()}
    assert rows["preview"]["min_replicas"] == 1
    assert rows["preview"]["max_replicas"] == 8
    with pytest.raises(ValueError, match="min_replicas"):
        engine.alter_engine("preview", min_replicas=9)
    # failed alter must not have clobbered the stored bounds
    rows = {r["engine"]: r for r in engine.sys_engines().collect()}
    assert rows["preview"]["min_replicas"] == 1


def test_compact_and_load_materialization(spark, tmp_path):
    from dremio_oss_spark.plans.reflections import ReflectionStore

    store = ReflectionStore(spark, str(tmp_path / "refl"))
    li = load(spark, SF_SMALL, "lineitem")
    store.create_aggregation_reflection(
        "li_flag", li, "lineitem", ["l_returnflag"],
        [Measure("sum", "l_quantity"), Measure("count", "*")],
    )
    # incremental-style appends leave multiple files; compaction collapses
    before, after = store.compact_materialization("li_flag")
    assert after == 1 and before >= after

    mat = store.load_materialization("li_flag")
    got = {r["l_returnflag"]: r["count_all"] for r in mat.collect()}
    expect = {r["l_returnflag"]: r["cnt"] for r in
              li.groupBy("l_returnflag").count()
              .withColumnRenamed("count", "cnt").collect()}
    assert got == expect
    assert spark.table("mat_li_flag").count() == len(expect)

    with pytest.raises(KeyError):
        store.compact_materialization("nope")


def test_lakehouse_sql_dml_statements(spark, tmp_path):
    """SQL statement forms of the lakehouse DML surface dispatch to the
    right format by table path: DELETE/UPDATE/MERGE INTO/OPTIMIZE/
    VACUUM/ALTER TABLE on Delta and Iceberg tables (dremio-oss DML
    statement surface re-expressed over quoted paths)."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta
    from dremio_oss_spark.sources.iceberg import read_iceberg, write_iceberg

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(20)],
        "k long, p long, v double")

    t = str(tmp_path / "d")
    write_delta(spark, df, t, partition_by=["p"])
    assert eng.sql(f"DELETE FROM '{t}' WHERE k >= 18").collect()[0][
        "operation"] == "DELETE"
    assert read_delta(spark, t).count() == 18
    eng.sql(f"UPDATE '{t}' SET v = v + 0.5 WHERE k = 0")
    assert read_delta(spark, t).where("k=0").collect()[0]["v"] == 0.5
    spark.createDataFrame(
        [(0, 0, -1.0), (50, 0, 9.0)], "k long, p long, v double"
    ).createOrReplaceTempView("mysrc")
    eng.sql(f"MERGE INTO '{t}' USING mysrc ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *")
    cur = read_delta(spark, t)
    assert cur.count() == 19
    assert cur.where("k=0").collect()[0]["v"] == -1.0
    eng.sql(f"ALTER TABLE '{t}' ADD COLUMNS (tag string, w decimal(10,2))")
    assert set(read_delta(spark, t).columns) == {"k", "p", "v", "tag", "w"}
    eng.sql(f"ALTER TABLE '{t}' DROP COLUMN tag")
    eng.sql(f"OPTIMIZE TABLE '{t}'")
    out = eng.sql(f"VACUUM TABLE '{t}'").collect()[0]
    assert out["operation"] == "VACUUM"
    assert read_delta(spark, t).count() == 19

    t2 = str(tmp_path / "i")
    write_iceberg(spark, df, t2, partition_by=["p"])
    eng.sql(f"DELETE FROM '{t2}' WHERE k >= 18")
    eng.sql(f"UPDATE '{t2}' SET v = 7 WHERE k = 1")
    eng.sql(f"ALTER TABLE '{t2}' ADD COLUMNS (tag string, w decimal(10,2))")
    assert set(read_iceberg(spark, t2).columns) == {"k", "p", "v", "tag", "w"}
    eng.sql(f"ALTER TABLE '{t2}' DROP COLUMN tag")
    assert set(read_iceberg(spark, t2).columns) == {"k", "p", "v", "w"}
    eng.sql(f"OPTIMIZE TABLE '{t2}'")
    eng.sql(f"VACUUM TABLE '{t2}'")
    cur = read_iceberg(spark, t2)
    assert cur.count() == 18
    assert cur.where("k=1").collect()[0]["v"] == 7.0


def test_metadata_table_functions_and_rollback(spark, tmp_path):
    """TABLE(table_history/table_files/table_snapshot/table_partitions)
    over lakehouse paths (ref MetadataFunctionsMacro.java:36) and
    ROLLBACK TABLE ... TO SNAPSHOT (ref parserImpls.ftl:1211) for both
    formats."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta
    from dremio_oss_spark.sources.iceberg import read_iceberg, write_iceberg

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "k long, p long, v double")

    t = str(tmp_path / "d")
    write_delta(spark, df, t, partition_by=["p"])
    eng.sql(f"DELETE FROM '{t}' WHERE k >= 25")
    hist = eng.sql(
        f"select * from table(table_history('{t}')) order by snapshot_id"
    ).collect()
    assert [h["operation"] for h in hist] == [
        "CREATE TABLE AS SELECT", "DELETE"]
    snap = eng.sql(f"select * from table(table_snapshot('{t}'))").collect()
    assert snap[0]["format"] == "delta" and snap[0]["n_files"] == 3
    parts = eng.sql(
        f"select * from table(table_partitions('{t}')) order by partition"
    ).collect()
    assert len(parts) == 3 and all(r["n_files"] == 1 for r in parts)
    files = eng.sql(
        f"select * from table(table_files('{t}'))").collect()
    assert len(files) == 3 and all(f["size_bytes"] > 0 for f in files)
    mans = eng.sql(
        f"select * from table(table_manifests('{t}'))").collect()
    assert {m["kind"] for m in mans} == {"commit"}
    assert len(mans) == 2  # CTAS + DELETE commits
    eng.sql(f"ROLLBACK TABLE '{t}' TO SNAPSHOT '0'")
    assert read_delta(spark, t).count() == 30

    t2 = str(tmp_path / "i")
    s1 = write_iceberg(spark, df, t2, partition_by=["p"])
    eng.sql(f"DELETE FROM '{t2}' WHERE k >= 25")
    assert read_iceberg(spark, t2).count() == 25
    hist = eng.table_history(t2).collect()
    assert [h["operation"] for h in hist] == ["overwrite", "delete"]
    parts = eng.sql(
        f"select * from table(table_partitions('{t2}')) order by partition"
    ).collect()
    assert len(parts) == 3 and all(r["n_files"] == 1 for r in parts)
    files = eng.sql(
        f"select * from table(table_files('{t2}'))").collect()
    assert len(files) == 3 and all(f["size_bytes"] > 0 for f in files)
    mans = eng.sql(
        f"select * from table(table_manifests('{t2}'))").collect()
    assert {m["kind"] for m in mans} == {"manifest_list", "manifest",
                                         "metadata"}
    assert sum(m["kind"] == "manifest_list" for m in mans) == 2
    eng.sql(f"ROLLBACK TABLE '{t2}' TO SNAPSHOT '{s1}'")
    assert read_iceberg(spark, t2).count() == 30
    snap2 = eng.sql(
        f"select * from table(table_snapshot('{t2}'))").collect()
    assert snap2[0]["format"] == "iceberg"
    # an unknown snapshot names the table and the id on both formats
    import re

    for path in (t, t2):
        with pytest.raises(FileNotFoundError,
                           match=re.escape(f"999 in {path}")):
            eng.sql(f"ROLLBACK TABLE '{path}' TO SNAPSHOT '999'")


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_rollback_restores_target_schema(spark, tmp_path, fmt):
    """ROLLBACK restates the target's schema with its files: a column
    added after the target is gone on both formats, and on Iceberg the
    rollback snapshot is a full commit (sequence number, schema id, the
    main ref advanced) whose schema becomes the current one."""
    import json
    import os

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources import delta, iceberg

    eng = Engine(spark)
    t = str(tmp_path / fmt)
    df = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double")
    first = (delta.write_delta(spark, df, t) if fmt == "delta"
             else iceberg.write_iceberg(spark, df, t))
    eng.sql(f"ALTER TABLE '{t}' ADD COLUMNS (w int)")
    eng.sql(f"INSERT INTO '{t}' select cast(3 as bigint), "
            "cast(3 as double), 3")
    eng.sql(f"ROLLBACK TABLE '{t}' TO SNAPSHOT '{first}'")
    got = eng.sql(f"select * from '{t}'")
    assert got.columns == ["k", "v"]
    assert sorted(r["k"] for r in got.collect()) == [1, 2]
    if fmt == "iceberg":
        md = os.path.join(t, "metadata")
        v = open(os.path.join(md, "version-hint.text")).read().strip()
        meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
        cur = meta["snapshots"][-1]
        assert cur["summary"]["operation"] == "rollback"
        assert meta["current-snapshot-id"] == cur["snapshot-id"]
        assert meta["refs"]["main"]["snapshot-id"] == cur["snapshot-id"]
        assert cur["sequence-number"] == meta["last-sequence-number"]
        target = next(s for s in meta["snapshots"]
                      if s["snapshot-id"] == first)
        assert cur["schema-id"] == target["schema-id"] \
            == meta["current-schema-id"]


@pytest.mark.parametrize("q", [
    "select 'see sales.orders_v' as s",
    "select 'NDV(x)' as s",
    "select 'last_query_id()' as s",
    "select 'sys.log' as s",
])
def test_rewrites_leave_literals_alone(spark, q):
    """The engine's text rewrites (dotted VDS names, dialect functions,
    context functions) never reach inside a string literal: the engine
    answers exactly what Spark answers."""
    eng = Engine(spark)
    eng.create_space("sales")
    eng.create_vds("sales", "orders_v", "select 1 as x")
    eng.sql("select 1 as one").collect()  # last_query_id() is now set
    assert eng.sql(q).collect() == spark.sql(q).collect()


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_update_set_literals_opaque(spark, tmp_path, fmt):
    """UPDATE's SET/WHERE split and the SET list split read code only: a
    `where` or a comma inside a literal of either quote kind is data."""
    from dremio_oss_spark.sources import delta, iceberg

    eng = Engine(spark)
    t = str(tmp_path / fmt)
    write = delta.write_delta if fmt == "delta" else iceberg.write_iceberg
    write(spark, spark.createDataFrame([(1, "x"), (2, "y"), (3, "z")],
                                       "k long, note string"), t)
    eng.sql(f"UPDATE '{t}' SET note = 'a where b' WHERE k = 1")
    eng.sql(f"UPDATE '{t}' SET note = \"c,d\" WHERE k = 2")
    got = {r["k"]: r["note"]
           for r in eng.sql(f"select * from '{t}'").collect()}
    assert got == {1: "a where b", 2: "c,d", 3: "z"}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_merge_set_literals_opaque(spark, tmp_path, fmt):
    """MERGE's source-alias rewrite (`s.` -> the joined plan's names)
    reads code only: `s.x` inside a literal is data."""
    from dremio_oss_spark.sources import delta, iceberg

    eng = Engine(spark)
    t = str(tmp_path / fmt)
    write = delta.write_delta if fmt == "delta" else iceberg.write_iceberg
    write(spark, spark.createDataFrame([(1, "x"), (2, "y")],
                                       "k long, note string"), t)
    spark.createDataFrame([(1, "u")], "k long, note string") \
        .createOrReplaceTempView("merge_lit_src")
    eng.sql(f"MERGE INTO '{t}' USING merge_lit_src ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET note = 'see s.x' || s.note")
    got = {r["k"]: r["note"]
           for r in eng.sql(f"select * from '{t}'").collect()}
    assert got == {1: "see s.xu", 2: "y"}


def test_small_commit_takes_stats_from_footers(spark, tmp_path):
    """A small lake commit takes its file stats from the footers it just
    wrote, timestamp columns included: an Iceberg INSERT of a few rows
    launches one Spark job (the write), and Iceberg UPDATE and DELETE
    launch as many jobs as the Delta statements on the same rows.  The
    engine runs on a new session, as servers and the benchmark do: it
    inherits the INT64 timestamp encoding `build_spark` sets."""
    eng = Engine(spark.newSession())
    src = ("select id as k, cast(id * 1.5 as double) as v, "
           "timestamp'2024-01-02 03:04:05.123456' + make_interval("
           "0, 0, 0, cast(id as int)) as ts from range({lo}, {hi})")
    got = {}
    for fmt in ("delta", "iceberg"):
        t = str(tmp_path / fmt)
        eng.sql(f"CREATE TABLE '{t}' STORE AS (type => '{fmt}') AS "
                + src.format(lo=0, hi=20))
        got[fmt] = {
            "insert": count_jobs(
                eng, f"INSERT INTO '{t}' " + src.format(lo=20, hi=25)),
            "update": count_jobs(
                eng, f"UPDATE '{t}' SET v = v + 1 WHERE k = 3"),
            "delete": count_jobs(eng, f"DELETE FROM '{t}' WHERE k = 4"),
        }
        assert eng.sql(f"select count(*) as n from '{t}'").first()["n"] == 24
    assert got["iceberg"]["insert"] == 1, got
    assert got["iceberg"]["update"] == got["delta"]["update"], got
    assert got["iceberg"]["delete"] == got["delta"]["delete"], got


# Spark jobs per lake DML statement on a two-commit table: hit files
# are planned in one observed job with no join or shuffle, so DELETE and
# UPDATE are that job plus the rewrite, and a DELETE matching nothing is
# the planning job alone.
_DML_JOBS = {"delete": 2, "update": 2, "merge": 5, "delete_none": 1}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_lake_dml_statement_job_counts(spark, tmp_path, fmt):
    """DELETE, UPDATE and MERGE through `Engine.sql` launch exactly the
    pinned number of Spark jobs on both formats, and change the rows
    they should."""
    eng = Engine(spark.newSession())
    t = str(tmp_path / fmt)
    src = ("select id as k, cast(id * 1.5 as double) as v "
           "from range({lo}, {hi}, 1, 2)")
    eng.sql(f"CREATE TABLE '{t}' STORE AS (type => '{fmt}') AS "
            + src.format(lo=0, hi=1000))
    eng.sql(f"INSERT INTO '{t}' " + src.format(lo=1000, hi=2000))
    eng.spark.sql(src.format(lo=1900, hi=2100)).createOrReplaceTempView(
        "dml_jobs_src")
    got = {
        "delete": count_jobs(eng, f"DELETE FROM '{t}' WHERE k < 10"),
        "update": count_jobs(
            eng, f"UPDATE '{t}' SET v = v + 1 WHERE k >= 1500 AND k < 1510"),
        "merge": count_jobs(
            eng, f"MERGE INTO '{t}' USING dml_jobs_src s ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
        "delete_none": count_jobs(eng, f"DELETE FROM '{t}' WHERE k < 0"),
    }
    assert got == _DML_JOBS, got
    row = eng.sql(f"select count(*) as n, sum(v) as s from '{t}'").first()
    assert (row["n"], row["s"]) == (2090, 1.5 * sum(range(10, 2100)) + 10)


# Spark jobs per maintenance statement, measured on the per-format
# implementations these statements replaced: the shared core must not
# add any.  OPTIMIZE FOR PARTITIONS runs one fewer since `hit_files`
# plans its files in one observed job.
_MAINTENANCE_JOBS = {"optimize_partitions": 5, "optimize": 3,
                     "rollback": 0, "truncate": 0}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_maintenance_statement_job_counts(spark, tmp_path, fmt):
    """OPTIMIZE (full and FOR PARTITIONS), ROLLBACK and TRUNCATE run no
    more Spark jobs than their bounds; ROLLBACK and TRUNCATE are
    metadata-only."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources import delta, iceberg

    eng = Engine(spark)
    write = delta.write_delta if fmt == "delta" else iceberg.write_iceberg
    t = str(tmp_path / fmt)
    df = spark.createDataFrame([(i, i % 3, float(i)) for i in range(30)],
                               "k long, p long, v double")
    first = write(spark, df, t, partition_by=["p"])
    write(spark, df, t, mode="append")
    write(spark, df, t, mode="append")

    got = {
        "optimize_partitions": count_jobs(
            eng, f"OPTIMIZE TABLE '{t}' FOR PARTITIONS p = 1"),
        "optimize": count_jobs(eng, f"OPTIMIZE TABLE '{t}'"),
        "rollback": count_jobs(
            eng, f"ROLLBACK TABLE '{t}' TO SNAPSHOT '{first}'"),
        "truncate": count_jobs(eng, f"TRUNCATE TABLE '{t}'"),
    }
    assert all(got[k] <= n for k, n in _MAINTENANCE_JOBS.items()), got
    assert eng.sql(f"select count(*) as n from '{t}'").first()["n"] == 0


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_insert_applies_store_assignment(spark, tmp_path, fmt):
    """INSERT casts a column to the table's type where Spark's ANSI
    store assignment allows it (TIMESTAMP_NTZ into a CTAS table, which
    Iceberg reads back as TIMESTAMP); any other mismatch (a string into
    a bigint) still raises."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    t = str(tmp_path / fmt)
    src = ("select 1 as k, timestamp_ntz'2024-01-02 03:04:05' as ts "
           "union all select 2, timestamp_ntz'2024-02-03 04:05:06'")
    eng.sql(f"CREATE TABLE '{t}' STORE AS (type => '{fmt}') AS {src}")
    eng.sql(f"INSERT INTO '{t}' {src}")
    got = eng.sql(f"select k, count(*) as n from '{t}' group by k "
                  "order by k").collect()
    assert [(r["k"], r["n"]) for r in got] == [(1, 2), (2, 2)]
    with pytest.raises(ValueError, match="append column 'k'"):
        eng.sql(f"INSERT INTO '{t}' select 'x', "
                "timestamp_ntz'2024-01-01 00:00:00'")


def test_lake_path_select_and_time_travel(spark, tmp_path):
    """SELECT ... FROM '<path>' [AT SNAPSHOT 'n'] resolves quoted
    lakehouse paths (and joins against regular views) through the
    engine's SQL entry — dremio-oss versioned table refs
    (TimeTravelTableMacro)."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta, delete_from_delta
    from dremio_oss_spark.sources.iceberg import write_iceberg

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)],
        "k long, p long, v double")

    t = str(tmp_path / "d")
    write_delta(spark, df, t, partition_by=["p"])
    delete_from_delta(spark, t, "k >= 20")
    assert eng.sql(f"select count(*) as c from '{t}'").collect()[0]["c"] == 20
    assert eng.sql(
        f"select count(*) as c from '{t}' at snapshot '0'"
    ).collect()[0]["c"] == 30
    # join a lake path against a temp view
    spark.createDataFrame([(0, "zero"), (1, "one"), (2, "two")],
                          "p long, name string").createOrReplaceTempView("pn")
    rows = eng.sql(
        f"select name, count(*) as n from '{t}' join pn using (p) "
        "group by name order by name").collect()
    assert sum(r["n"] for r in rows) == 20

    t2 = str(tmp_path / "i")
    s1 = write_iceberg(spark, df, t2, partition_by=["p"])
    assert eng.sql(
        f"select count(*) as c from '{t2}' at snapshot '{s1}'"
    ).collect()[0]["c"] == 30


def test_lake_ctas_and_insert_statements(spark, tmp_path):
    """CREATE TABLE '<path>' [STORE AS (type => 'iceberg')] [PARTITION BY
    (...)] AS SELECT, and INSERT INTO '<path>' SELECT with positional
    column alignment; appends inherit the table's partitioning."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, resolve_snapshot
    from dremio_oss_spark.sources.iceberg import (
        read_iceberg, resolve_snapshot as ice_snap)

    from .conftest import SF_SMALL

    eng = Engine(spark)
    register_testdata(spark, SF_SMALL)

    t = str(tmp_path / "d")
    eng.sql(f"CREATE TABLE '{t}' PARTITION BY (n_regionkey) AS "
            "select n_nationkey, n_name, n_regionkey from nation")
    assert read_delta(spark, t).count() == 25
    assert resolve_snapshot(spark, t).partition_cols == ["n_regionkey"]
    eng.sql(f"INSERT INTO '{t}' select n_nationkey + 100, n_name, "
            "n_regionkey from nation where n_regionkey = 0")
    cur = read_delta(spark, t)
    assert cur.count() == 30
    assert cur.where("n_regionkey is null").count() == 0

    t2 = str(tmp_path / "i")
    eng.sql(f"CREATE TABLE '{t2}' STORE AS (type => 'iceberg') "
            "PARTITION BY (bucket(4, n_nationkey)) AS "
            "select n_nationkey, n_name from nation")
    assert read_iceberg(spark, t2).count() == 25
    assert ice_snap(t2).spec_fields[0]["transform"] == "bucket[4]"
    eng.sql(f"INSERT INTO '{t2}' select n_nationkey + 100, n_name from nation")
    assert read_iceberg(spark, t2).count() == 50


def test_lake_select_prunes_from_where_equality(spark, tmp_path):
    """Single-table conjunctive WHERE equality predicates prune the
    lakehouse file set through the stats/partition planners before
    Spark plans the query; OR / JOIN queries skip pruning and stay
    correct; float literals on int partition columns compare
    numerically (not stringly)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta
    from dremio_oss_spark.sources.iceberg import write_iceberg

    eng = Engine(spark)
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") / 100).cast("long").alias("p"),
        F.col("id").cast("double").alias("v"))
    spark.createDataFrame([(0,), (1,)], "p long").createOrReplaceTempView(
        "prune_ps")
    for write in (write_delta, write_iceberg):
        t = str(tmp_path / write.__name__)
        write(spark, df.repartitionByRange(8, "k"), t, partition_by=["p"])

        r = eng.sql(f"select count(*) as c, sum(v) as s from '{t}' "
                    "where k = 137").collect()[0]
        assert (r["c"], r["s"]) == (1, 137.0)
        # float literal on an int partition column — numeric pv compare
        assert eng.sql(f"select count(*) as c from '{t}' "
                       "where p = 3.0").collect()[0]["c"] == 100
        # OR disables pruning; result still exact
        assert eng.sql(f"select count(*) as c from '{t}' "
                       "where k = 3 or k = 500").collect()[0]["c"] == 2
        # JOIN disables pruning; result still exact
        assert eng.sql(f"select count(*) as c from '{t}' join prune_ps "
                       "using (p) where v >= 0").collect()[0]["c"] == 200


def test_merge_statement_column_assignments(spark, tmp_path):
    """MERGE INTO ... WHEN MATCHED THEN UPDATE SET <col = s.expr, ...>
    updates only the named columns; SET * takes every source column."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta

    eng = Engine(spark)
    t = str(tmp_path / "d")
    df = spark.createDataFrame(
        [(i, i % 2, float(i), "x") for i in range(20)],
        "k long, p long, v double, tag string")
    write_delta(spark, df, t, partition_by=["p"])
    spark.createDataFrame(
        [(0, 0, -1.0, "NEW"), (50, 0, 9.0, "INS")],
        "k long, p long, v double, tag string"
    ).createOrReplaceTempView("msrc2")

    eng.sql(f"MERGE INTO '{t}' USING msrc2 ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET v = s.v "
            "WHEN NOT MATCHED THEN INSERT *")
    cur = read_delta(spark, t)
    r0 = cur.where("k = 0").collect()[0]
    assert (r0["v"], r0["tag"]) == (-1.0, "x")  # tag untouched
    r50 = cur.where("k = 50").collect()[0]
    assert (r50["v"], r50["tag"]) == (9.0, "INS")

    eng.sql(f"MERGE INTO '{t}' USING msrc2 ON t.k = s.k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *")
    r0b = read_delta(spark, t).where("k = 0").collect()[0]
    assert (r0b["v"], r0b["tag"]) == (-1.0, "NEW")


def test_lake_at_timestamp_time_travel(spark, tmp_path):
    """AT TIMESTAMP '<iso|epoch ms>' resolves to the last commit/snapshot
    at or before that wall-clock instant for both formats; commits carry
    real, monotonic timestamps.  Reference: TimeTravelTableMacro's
    AT TIMESTAMP branch."""
    import time
    from datetime import datetime

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (
        delete_from_delta, read_delta, resolve_version_at, write_delta)
    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, read_iceberg, resolve_snapshot_at,
        write_iceberg)

    eng = Engine(spark)
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "k long, v double")

    t = str(tmp_path / "d")
    write_delta(spark, df, t)
    mid_ms = int(time.time() * 1000)
    time.sleep(0.01)
    delete_from_delta(spark, t, "k >= 10")

    assert resolve_version_at(t, mid_ms) == 0
    assert read_delta(spark, t, timestamp_ms=mid_ms).count() == 20
    assert read_delta(spark, t).count() == 10
    # +2s then floor to seconds: strictly after the delete commit even
    # when the commit landed mid-second (second-resolution ISO floors)
    now_iso = datetime.fromtimestamp(time.time() + 2).isoformat(
        sep=" ", timespec="seconds")
    assert eng.sql(
        f"select count(*) as c from '{t}' at timestamp '{mid_ms}'"
    ).collect()[0]["c"] == 20
    assert eng.sql(
        f"select count(*) as c from '{t}' at timestamp '{now_iso}'"
    ).collect()[0]["c"] == 10

    t2 = str(tmp_path / "i")
    s1 = write_iceberg(spark, df, t2)
    mid_ms = int(time.time() * 1000)
    time.sleep(0.01)
    delete_from_iceberg(spark, t2, "k >= 10")
    assert resolve_snapshot_at(t2, mid_ms) == s1
    assert read_iceberg(spark, t2, timestamp_ms=mid_ms).count() == 20
    assert eng.sql(
        f"select count(*) as c from '{t2}' at timestamp '{mid_ms}'"
    ).collect()[0]["c"] == 20
    # too-early timestamp errors
    try:
        resolve_snapshot_at(t2, 10_000)
        raise AssertionError("expected FileNotFoundError")
    except FileNotFoundError:
        pass


def test_refresh_dataset_pins_and_refreshes_folder_listing(spark, tmp_path):
    """Folder promotion pins the parquet file listing (new files are
    invisible to queries — the reference serves dataset metadata from
    its namespace store, not per-query directory listings); REFRESH
    DATASET re-lists and reports the delta.  Reference:
    `SqlRefreshDataset` / REFRESH DATASET in Parser.tdd."""
    import os

    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    d = str(tmp_path / "folder")
    spark.range(10).toDF("k").coalesce(1).write.mode("overwrite").parquet(d)

    n = eng.promote_folder_dataset("promoted_ds", d)
    assert n >= 1
    assert spark.table("promoted_ds").count() == 10

    # a new file lands in the folder — pinned metadata doesn't see it
    import glob
    import shutil

    src = glob.glob(os.path.join(d, "*.parquet"))[0]
    shutil.copy(src, os.path.join(d, "extra-00000.parquet"))
    assert spark.table("promoted_ds").count() == 10

    out = eng.sql("REFRESH DATASET promoted_ds").collect()[0]
    assert "added 1" in out["result"]
    assert spark.table("promoted_ds").count() == 20

    # removal is picked up the same way (via the ALTER TABLE alias)
    os.remove(os.path.join(d, "extra-00000.parquet"))
    out = eng.sql("ALTER TABLE promoted_ds REFRESH METADATA").collect()[0]
    assert "removed 1" in out["result"]
    assert spark.table("promoted_ds").count() == 10

    # non-promoted names fall back to catalog cache invalidation
    spark.range(3).toDF("x").createOrReplaceTempView("plain_view")
    out = eng.sql("REFRESH DATASET plain_view").collect()[0]
    assert out["result"] == "metadata cache invalidated"


def test_reflection_ddl_sql_statements(spark):
    """The reference's reflections DDL grammar through Engine.sql
    (`parserImpls.ftl` SqlCreateReflection/SqlDropReflection): CREATE
    AGGREGATE REFLECTION materializes and then answers a covering
    rollup from the materialization; CREATE RAW REFLECTION narrows a
    scan; REFRESH REFLECTION rebuilds; DROP removes."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.plans import AggQuery, Measure

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    out = eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION li_by_flag "
        "USING DIMENSIONS (l_returnflag, l_linestatus) "
        "MEASURES (l_quantity (SUM), l_extendedprice (SUM, MIN))"
    ).collect()[0]
    assert "li_by_flag" in out["result"] and "3 measures" in out["result"]

    store = eng._default_refl_store()
    q = AggQuery(table="lineitem", dims=("l_returnflag",),
                 measures=(Measure("sum", "l_quantity"),))
    df, substituted = store.execute(q, spark.table("lineitem"))
    assert substituted
    expect = (spark.table("lineitem").groupBy("l_returnflag")
              .agg(F.sum("l_quantity").alias("s")))
    got = {r["l_returnflag"]: float(r["sum_l_quantity"])
           for r in df.collect()}
    want = {r["l_returnflag"]: float(r["s"]) for r in expect.collect()}
    assert got == pytest.approx(want)

    assert "li_by_flag" in [
        r["reflection_name"] for r in eng.sys_reflections().collect()]
    eng.sql("REFRESH REFLECTION li_by_flag")
    df2, sub2 = store.execute(q, spark.table("lineitem"))
    assert sub2 and {r["l_returnflag"]: float(r["sum_l_quantity"])
                     for r in df2.collect()} == pytest.approx(want)

    out = eng.sql(
        "ALTER TABLE orders CREATE RAW REFLECTION o_narrow "
        "USING DISPLAY (o_orderkey, o_totalprice) LOCALSORT BY (o_orderkey)"
    ).collect()[0]
    assert "2 columns" in out["result"]
    narrowed, raw_sub = store.scan(
        "orders", ["o_orderkey"], spark.table("orders"))
    assert raw_sub and narrowed.count() == spark.table("orders").count()

    eng.sql("ALTER TABLE lineitem DROP REFLECTION li_by_flag")
    eng.sql("ALTER TABLE orders DROP REFLECTION o_narrow")
    _, sub3 = store.execute(q, spark.table("lineitem"))
    assert not sub3


def test_alter_session_set_reset(spark):
    """ALTER SESSION SET/RESET maps session options onto Spark SQL confs
    and surfaces them in sys.options (reference SqlSetOption / ALTER
    SESSION)."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = eng.sql(
            'ALTER SESSION SET "spark.sql.shuffle.partitions" = 7'
        ).collect()[0]
        assert "spark.sql.shuffle.partitions = 7" in out["result"]
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        opts = {r["name"]: r["value"] for r in eng.sys_options().collect()}
        assert opts["spark.sql.shuffle.partitions"] == "7"
        eng.sql('ALTER SESSION SET "spark.sql.ansi.enabled" = \'false\'')
        assert spark.conf.get("spark.sql.ansi.enabled") == "false"
        eng.sql('ALTER SESSION RESET "spark.sql.ansi.enabled"')
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


def test_workload_manager_routes_and_admits(spark):
    """Cost-based queue routing (reference BasicResourceAllocator:
    cost > threshold -> LARGE, reflection jobs ride their own pair) with
    per-queue concurrency admission and scheduler-pool pinning."""
    from dremio_oss_spark.plans import WorkloadManager

    wm = WorkloadManager(spark, queue_threshold_bytes=1024)
    tiny = spark.range(3).toDF("k")
    big = load(spark, SF_SMALL, "lineitem")
    assert wm.classify(tiny) == "SMALL"
    assert wm.classify(big) == "LARGE"
    assert wm.classify(big, reflection_job=True) == "REFLECTION_LARGE"
    # filters reduce Catalyst's size estimate -> can demote to SMALL
    assert wm.cost(big.select("l_orderkey")) < wm.cost(big)

    sc = spark.sparkContext
    with wm.admit(tiny) as qname:
        assert qname == "SMALL"
        assert sc.getLocalProperty("spark.scheduler.pool") == "wlm_small"
        occ = {r["queue"]: r["active"] for r in wm.sys_queues().collect()}
        assert occ["SMALL"] == 1
        # the query actually runs inside the pool
        assert tiny.count() == 3
    assert sc.getLocalProperty("spark.scheduler.pool") in (None, "")

    # concurrency cap: a full queue rejects with timeout=0-ish
    wm.queues["LARGE"].max_concurrency = 1
    wm.queues["LARGE"].__post_init__()  # rebuild semaphore at new size
    with wm.admit(big):
        with pytest.raises(TimeoutError, match="LARGE full"):
            with wm.admit(big, timeout=0.05):
                pass
    occ = {r["queue"]: r["active"] for r in wm.sys_queues().collect()}
    assert occ["LARGE"] == 0


def test_external_query_sql_form_and_lake_describe(spark, tmp_path):
    """table(<src>.external_query('<sql>')) through Engine.sql (ref
    ExternalQuery.java — query text ships verbatim, only the result
    crosses), DESCRIBE on lakehouse paths, and sys.materializations."""
    import os

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta
    from dremio_oss_spark.sources.external import ExternalSource
    from dremio_oss_spark.sources.iceberg import write_iceberg

    eng = Engine(spark)
    src = ExternalSource(
        spark, "rdbms",
        {"nation": os.path.join(SF_SMALL, "nation.parquet")})
    try:
        eng.attach_external_source("rdbms", src)
        rows = eng.sql(
            "select n_regionkey, count(*) as n from "
            "table(rdbms.external_query("
            "'select n_nationkey, n_regionkey from nation')) "
            "group by n_regionkey order by n_regionkey").collect()
        assert sum(r["n"] for r in rows) == 25
        import pytest as _pt

        with _pt.raises(ValueError, match="no external source"):
            eng.sql("select * from table(nope.external_query('select 1'))")
    finally:
        src.close()

    df = spark.createDataFrame([(1, 0, 1.0)], "k long, p long, v double")
    for write in (write_delta, write_iceberg):
        t = str(tmp_path / write.__name__)
        write(spark, df, t, partition_by=["p"])
        desc = {r["col_name"]: (r["data_type"], r["comment"])
                for r in eng.describe_table(t).collect()}
        assert desc["k"][0] == "bigint"
        assert desc["p"][1] == "partition key"

    # sys.materializations reflects the reflection store's footprint
    spark.range(50).selectExpr("id as k", "id * 2 as v") \
        .createOrReplaceTempView("mat_src")
    eng.sql("ALTER TABLE mat_src CREATE AGGREGATE REFLECTION mat_r "
            "USING DIMENSIONS (k) MEASURES (v (SUM))")
    mats = {r["materialization"]: r for r in
            eng.sys_materializations().collect()}
    assert mats["mat_r"]["n_files"] >= 1 and mats["mat_r"]["bytes"] > 0
    eng.sql("ALTER TABLE mat_src DROP REFLECTION mat_r")


def test_admin_statement_surface(spark, tmp_path):
    """The remaining small grammar productions (Parser.tdd): ALTER
    SESSION CLEAR PLAN CACHE, CREATE/DROP USER/ROLE, pipe SQL statements
    (CREATE/TRIGGER/DESCRIBE/DROP PIPE), DROP FUNCTION."""
    import os

    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    assert eng.sql("ALTER SESSION CLEAR PLAN CACHE").collect()[0][
        "operation"] == "CLEAR PLAN CACHE"

    eng.sql("CREATE ROLE analysts")
    eng.sql("CREATE USER alice")
    eng.grant_role("analysts", "alice")
    eng.grant("SELECT", "secret.table", "analysts")
    assert eng.check_access("alice", "SELECT", "secret.table")
    eng.sql("DROP ROLE analysts")
    assert not eng.check_access("alice", "SELECT", "secret.table")

    # pipes: stage a source file, CREATE + TRIGGER loads it, a second
    # trigger dedups to zero, DESCRIBE/DROP round out the surface
    src = tmp_path / "in"
    src.mkdir()
    spark.range(10).toDF("k").coalesce(1).write.mode("overwrite").parquet(
        str(src / "batch1"))
    target = str(tmp_path / "tgt")
    out = eng.sql(
        f"CREATE PIPE p1 AS COPY INTO '{target}' "
        f"FROM '{src}/batch1/*.parquet'").collect()[0]
    assert out["result"] == "p1"
    assert "10 rows" in eng.sql("TRIGGER PIPE p1").collect()[0]["result"]
    assert "0 rows" in eng.sql("TRIGGER PIPE p1").collect()[0]["result"]
    d = eng.sql("DESCRIBE PIPE p1").collect()[0]
    assert d["pipe_name"] == "p1" and d["dedupe"]
    eng.sql("DROP PIPE p1")
    import pytest as _pt

    with _pt.raises(ValueError, match="no pipe"):
        eng.sql("DESCRIBE PIPE p1")

    out = eng.sql("DROP FUNCTION IF EXISTS nonexistent_fn").collect()[0]
    assert out["operation"] == "DROP FUNCTION"


def test_profile_returns_operator_metrics(spark):
    """engine.profile executes through the noop sink and reports
    per-operator runtime metrics (the reference's job-profile operator
    table): rows flow bottom-up, aggregates report memory, the scan
    reports its output rows."""
    import json

    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    li = load(spark, SF_SMALL, "lineitem")
    prof = eng.profile(
        li.groupBy("l_returnflag").count()).collect()
    ops = [r["operator"] for r in prof]
    assert any("HashAggregate" in o for o in ops)
    assert any("Scan" in o or "FileScan" in o for o in ops)
    aggs = [r for r in prof if "HashAggregate" in r["operator"]]
    assert any((r["peak_memory"] or 0) > 0 for r in aggs)
    agg = max(aggs, key=lambda r: r["depth"])
    scan = [r for r in prof if "Scan" in r["operator"]]
    assert scan and json.loads(
        scan[-1]["metrics"]).get("number of output rows", 0) > 0
    # deepest operators are upstream (scan below the aggregate)
    assert max(r["depth"] for r in scan) >= agg["depth"]


def test_transparent_sql_acceleration(spark):
    """The acceleration UX: after a reflection exists, a plain SQL
    aggregate over the base table silently answers from the
    materialization (SubstitutionProvider behavior); uncovered queries
    fall through to normal planning with identical results."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION accel_r "
            "USING DIMENSIONS (l_returnflag, l_linestatus) "
            "MEASURES (l_quantity (SUM, MIN), l_orderkey (COUNT))")

    got = eng.sql(
        "select l_returnflag, sum(l_quantity) as sq, count(l_orderkey) as n "
        "from lineitem group by l_returnflag order by l_returnflag"
    ).collect()
    assert eng.last_plan_accelerated == "accel_r"
    want = (spark.table("lineitem").groupBy("l_returnflag")
            .agg(F.sum("l_quantity").alias("sq"),
                 F.count("*").alias("n"))
            .orderBy("l_returnflag").collect())
    assert [(r["l_returnflag"], float(r["sq"]), r["n"]) for r in got] == \
           [(r["l_returnflag"], float(r["sq"]), r["n"]) for r in want]

    # a filter over a dim rolls up from the materialization too
    got2 = eng.sql(
        "select l_returnflag, sum(l_quantity) as sq from lineitem "
        "where l_linestatus = 'F' group by l_returnflag"
    ).collect()
    assert eng.last_plan_accelerated == "accel_r"
    want2 = (spark.table("lineitem").where("l_linestatus = 'F'")
             .groupBy("l_returnflag").agg(F.sum("l_quantity").alias("sq"))
             .collect())
    assert {r["l_returnflag"]: float(r["sq"]) for r in got2} == \
           {r["l_returnflag"]: float(r["sq"]) for r in want2}

    # uncovered: extra dim not in the reflection -> normal planning
    out = eng.sql(
        "select l_shipdate, count(*) as n from lineitem group by l_shipdate"
    )
    assert eng.last_plan_accelerated is None
    assert out.count() > 0
    # avg is not a rollup-able measure kind -> fall through, still correct
    out2 = eng.sql(
        "select l_returnflag, avg(l_quantity) as a from lineitem "
        "group by l_returnflag")
    assert eng.last_plan_accelerated is None and out2.count() == 3
    eng.sql("ALTER TABLE lineitem DROP REFLECTION accel_r")


def test_table_refs_and_show_grants(spark, tmp_path):
    """TABLE(table_refs('<path>')) lists branches+tags for both table
    kinds; SHOW GRANTS ON <obj> lists the ACL."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.iceberg import write_iceberg

    eng = Engine(spark)
    t = str(tmp_path / "i")
    write_iceberg(spark, spark.range(5).toDF("k"), t)
    eng.sql(f"CREATE BRANCH dev IN '{t}'")
    eng.sql(f"CREATE TAG v1 IN '{t}'")
    refs = {(r["ref_name"], r["type"]) for r in eng.sql(
        f"select * from table(table_refs('{t}'))").collect()}
    assert {("main", "branch"), ("dev", "branch"), ("v1", "tag")} <= refs

    eng.grant("SELECT", "finance.revenue", "bob")
    eng.grant("ALTER", "finance.revenue", "carol")
    rows = {(r["privilege"], r["grantee"]) for r in
            eng.sql("SHOW GRANTS ON finance.revenue").collect()}
    assert rows == {("SELECT", "bob"), ("ALTER", "carol")}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_show_logs_and_files_read_lake_tables(spark, tmp_path, fmt):
    """SHOW LOGS IN '<path>' is the table's commit history, one row per
    commit, and SHOW FILES IN '<path>' lists exactly its live data
    files, on both lake formats."""
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources import lake_dml
    from dremio_oss_spark.sources.delta import write_delta
    from dremio_oss_spark.sources.iceberg import write_iceberg

    eng = Engine(spark)
    t = str(tmp_path / fmt)
    df = spark.range(30).select(F.col("id").alias("k"),
                                (F.col("id") % 3).alias("p"))
    {"delta": write_delta, "iceberg": write_iceberg}[fmt](
        spark, df, t, partition_by=["p"])
    codec = lake_dml.codec(fmt)
    lake_dml.delete(codec, spark, t, "k < 4", mode=lake_dml.COW)
    lake_dml.update(codec, spark, t, {"k": "k + 100"}, "p = 1",
                    mode=lake_dml.COW)

    logs = eng.sql(f"SHOW LOGS IN '{t}'").collect()
    assert len(logs) == 3
    assert logs == eng.table_history(t).collect()

    files = eng.sql(f"SHOW FILES IN '{t}'").collect()
    assert files and all(
        r["size_bytes"] == os.path.getsize(os.path.join(t, r["file_path"]))
        for r in files)
    # copy-on-write leaves no delete marks: the listed files hold the
    # table's rows, no more and no fewer
    live = spark.read.parquet(*[os.path.join(t, r["file_path"])
                                for r in files])
    assert live.count() == 26
    assert live.where("k < 4").count() == 0


def test_show_branches_and_tags_read_iceberg_refs(spark, tmp_path):
    """SHOW BRANCHES / SHOW TAGS and table_refs list exactly an Iceberg
    table's refs; on a path with no refs map they raise, naming it."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import write_delta
    from dremio_oss_spark.sources.iceberg import resolve_snapshot, write_iceberg

    eng = Engine(spark)
    t = str(tmp_path / "i")
    write_iceberg(spark, spark.range(5).select(F.col("id").alias("k")), t)
    eng.sql(f"CREATE BRANCH dev IN '{t}'")
    eng.sql(f"CREATE TAG v1 IN '{t}'")
    sid = str(resolve_snapshot(t).snapshot_id)
    assert sorted(map(tuple, eng.sql(f"SHOW BRANCHES IN '{t}'").collect())) \
        == [("dev", sid), ("main", sid)]
    assert [tuple(r) for r in eng.sql(f"SHOW TAGS IN '{t}'").collect()] \
        == [("v1", sid)]

    d = str(tmp_path / "d")
    write_delta(spark, spark.range(5).select(F.col("id").alias("k")), d)
    for stmt in (f"SHOW BRANCHES IN '{d}'", f"SHOW TAGS IN '{d}'",
                 f"select * from table(table_refs('{d}'))"):
        with pytest.raises(ValueError,
                           match="not an Iceberg table: " + re.escape(d)):
            eng.sql(stmt)


def test_raw_path_sql_queries(spark, tmp_path):
    """SELECT ... FROM '<plain path>' promotes raw parquet folders and
    csv/json files on the fly (the reference's dfs."/path" direct
    filesystem querying); lakehouse paths keep their own route."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    d = str(tmp_path / "folder")
    spark.range(25).toDF("k").write.mode("overwrite").parquet(d)
    assert eng.sql(
        f"select count(*) as c from '{d}'").collect()[0]["c"] == 25
    assert eng.sql(
        f"select count(*) as c from '{d}' where k < 10"
    ).collect()[0]["c"] == 10

    f = str(tmp_path / "people.csv")
    with open(f, "w") as fh:
        fh.write("name,age\nana,31\nbo,22\n")
    rows = eng.sql(
        f"select name from '{f}' where age > 25").collect()
    assert [r["name"] for r in rows] == ["ana"]

    # joins between a raw folder and a view
    spark.createDataFrame([(1, "one")], "k long, label string") \
        .createOrReplaceTempView("lbl")
    got = eng.sql(
        f"select label from '{d}' join lbl using (k)").collect()
    assert [r["label"] for r in got] == ["one"]


def test_alter_pipe_and_alter_user(spark, tmp_path):
    """ALTER PIPE SET PIPE_EXECUTION_PAUSED stops ingest until resumed,
    ALTER PIPE AS redefines the copy while keeping status, and ALTER
    USER SET PASSWORD stores a credential on the principal
    (ingestion.ftl SqlAlterPipe/SqlAlterPipeStatus, SqlAlterUser)."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    src = tmp_path / "in"
    src.mkdir()
    spark.range(10).toDF("k").coalesce(1).write.mode("overwrite").parquet(
        str(src / "batch1"))
    tgt = str(tmp_path / "tgt")
    eng.sql(f"CREATE PIPE p1 AS COPY INTO '{tgt}' FROM '{src}/*'")

    eng.sql("ALTER PIPE p1 SET PIPE_EXECUTION_PAUSED")
    assert eng.sql("DESCRIBE PIPE p1").first()["status"] == "PAUSED"
    assert "0 rows" in eng.sql("TRIGGER PIPE p1").first()["result"]

    eng.sql("ALTER PIPE p1 SET PIPE_EXECUTION_RUNNING")
    assert "10 rows" in eng.sql("TRIGGER PIPE p1").first()["result"]

    # redefinition keeps the execution status
    eng.sql("ALTER PIPE p1 SET PIPE_EXECUTION_PAUSED")
    eng.sql(f"ALTER PIPE p1 AS COPY INTO '{tgt}' FROM '{src}/*'")
    assert eng.sql("DESCRIBE PIPE p1").first()["status"] == "PAUSED"

    eng.sql("ALTER USER bob SET PASSWORD 's3cret'")
    assert eng._passwords["bob"]
    assert "s3cret" not in eng._passwords["bob"]  # hashed, not stored raw


def test_count_star_answers_from_metadata(spark, tmp_path):
    """SELECT COUNT(*) FROM '<lake path>' folds to the stats-recorded
    row count with no scan (CountOnScanToValuesRule,
    PlannerPhase.java:337) — and falls back to a real scan once
    merge-on-read deletes make the metadata count unsound."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import delete_from_delta, write_delta
    from dremio_oss_spark.sources.iceberg import (delete_from_iceberg,
                                                  write_iceberg)

    eng = Engine(spark)
    dt = str(tmp_path / "d")
    write_delta(spark, spark.range(50).select(F.col("id").alias("k")), dt)
    write_delta(spark, spark.range(7).select(F.col("id").alias("k")), dt,
                mode="append")
    assert eng.sql(f"select count(*) as n from '{dt}'").first()["n"] == 57
    assert eng.last_count_from_metadata == dt

    it = str(tmp_path / "i")
    write_iceberg(spark, spark.range(30).select(F.col("id").alias("k")), it)
    eng.last_count_from_metadata = None
    assert eng.sql(f"select count(*) as n from '{it}'").first()["n"] == 30
    assert eng.last_count_from_metadata == it

    # deletion vectors invalidate the metadata count -> real scan
    delete_from_delta(spark, dt, "k >= 45", mode="merge-on-read")
    assert eng.sql(f"select count(*) as n from '{dt}'").first()["n"] == 52
    assert eng.last_count_from_metadata is None

    # a WHERE clause never takes the shortcut
    assert eng.sql(
        f"select count(*) as n from '{it}' where k < 10").first()["n"] == 10
    assert eng.last_count_from_metadata is None

    # position deletes invalidate it on Iceberg too
    delete_from_iceberg(spark, it, "k >= 25", mode="merge-on-read")
    assert eng.sql(f"select count(*) as n from '{it}'").first()["n"] == 25
    assert eng.last_count_from_metadata is None


def test_explain_plan_for_dml_is_dry_run(spark, tmp_path):
    """EXPLAIN PLAN FOR <DML> (parserImpls.ftl SqlExplainQueryDML)
    describes the planned rewrite and hit-row scan without committing
    anything; EXPLAIN PLAN FOR <query> returns the Spark plan."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta
    from dremio_oss_spark.sources.iceberg import read_iceberg, write_iceberg

    eng = Engine(spark)
    for fmt, write, read in (("delta", write_delta, read_delta),
                             ("iceberg", write_iceberg, read_iceberg)):
        t = str(tmp_path / fmt)
        write(spark, spark.range(20).select(F.col("id").alias("k")), t)

        out = {r["aspect"]: r["detail"] for r in eng.sql(
            f"EXPLAIN PLAN FOR DELETE FROM '{t}' WHERE k < 5").collect()}
        assert out["format"] == fmt and "DELETE" in out["action"]
        assert "k < 5" in out["predicate"]
        assert ("Scan" in out["hit_scan_plan"]
                or "FileScan" in out["hit_scan_plan"])
        assert read(spark, t).count() == 20  # nothing executed

    q = eng.sql("EXPLAIN PLAN FOR select 1 as x").first()
    assert q["aspect"] == "plan" and "Project" in q["detail"]


def test_sys_tables_sql_addressable(spark):
    """The sys.* registry (SystemTable.java enum: NODES/MEMORY/ROLES/
    MEMBERSHIP/PRIVILEGES/TIMEZONE_NAMES/USER_DEFINED_FUNCTIONS/
    DEPENDENCIES + the existing views) resolves directly in engine SQL."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.grant_role("admins", "carol")
    eng.grant("SELECT", "secret.t", "admins")

    assert eng.sql("select * from sys.nodes").count() >= 1
    mem = eng.sql("select * from sys.memory").first()
    assert mem["total_onheap"] > 0
    assert eng.sql(
        "select * from sys.membership where member = 'carol'"
    ).first()["role_name"] == "admins"
    assert eng.sql(
        "select * from sys.privileges where object = 'secret.t'"
    ).first()["grantee"] == "admins"
    assert eng.sql(
        "select * from sys.timezone_names where timezone_name = 'UTC'"
    ).count() == 1
    udfs = eng.sql(
        "select count(*) as n from sys.user_defined_functions"
    ).first()["n"]
    assert udfs > 50
    assert "version" in eng.sql("select * from sys.version").columns
    queues = {r["queue"]: r for r in
              eng.sql("select * from sys.queues").collect()}
    assert queues["SMALL"]["max_concurrency"] == 10
    assert queues["LARGE"]["active"] == 0


def test_aggregate_reflection_layout_fields(spark, tmp_path):
    """SqlCreateReflection PARTITION BY / LOCALSORT BY fields: the
    materialization writes hive partition dirs (via __p_ copies, so the
    dim column survives in the data files), substitution still answers
    correctly, incremental compaction preserves the layout, and the
    helper columns never leak into results."""
    import os

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    eng._refl_root = str(tmp_path / "refl")

    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION li_part "
        "USING DIMENSIONS (l_returnflag) MEASURES (l_quantity (SUM)) "
        "PARTITION BY (l_returnflag) LOCALSORT BY (l_returnflag)")
    store = eng._default_refl_store()
    data = store._data_dir(store._reflections["li_part"])
    assert any(d.startswith("__p_l_returnflag=") for d in os.listdir(data))

    mat = store.load_materialization("li_part")
    assert "__p_l_returnflag" not in mat.columns
    got = {r["l_returnflag"]: float(r["sum_l_quantity"])
           for r in mat.collect()}
    li = load(spark, SF_SMALL, "lineitem")
    expect = {r["l_returnflag"]: float(r["s"]) for r in
              li.groupBy("l_returnflag").agg(
                  __import__("pyspark.sql.functions", fromlist=["sum"])
                  .sum("l_quantity").alias("s")).collect()}
    assert got == expect

    before, after = store.compact_materialization("li_part")
    assert after == len(expect)  # one file per partition dir
    assert any(d.startswith("__p_l_returnflag=") for d in os.listdir(data))


def test_row_access_and_masking_policies(spark):
    """Policy DDL (ALTER TABLE ADD ROW ACCESS POLICY / MODIFY COLUMN SET
    MASKING POLICY, ref parserImpls.ftl:298,631): reads through both
    Engine.sql and Engine.table are rewritten without the query naming
    the policy; policies compose with the ACL, are user-dependent
    through folded context functions (re-rendered when session_user
    changes), and drop cleanly."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION t_mask(v STRING) "
              "RETURNS STRING RETURN '***'")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION t_seg(s STRING) "
              "RETURNS BOOLEAN RETURN s = 'BUILDING'")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION t_user_mask"
              "(v STRING, u STRING) RETURNS STRING "
              "RETURN CASE WHEN u = 'admin' THEN v ELSE '***' END")

    n_all = eng.sql("select count(*) c from customer").collect()[0][0]
    eng.sql("ALTER TABLE customer ADD ROW ACCESS POLICY t_seg (c_mktsegment)")
    n_pol = eng.sql("select count(*) c from customer").collect()[0][0]
    exp = spark.table("__base_customer").where(
        "c_mktsegment = 'BUILDING'").count()
    assert n_pol == exp < n_all
    # table() path enforced too
    assert eng.table("customer").count() == n_pol

    # masking with user-dependent args: folded per session_user
    eng.sql("ALTER TABLE customer MODIFY COLUMN c_name SET MASKING "
            "POLICY t_user_mask (c_name, query_user())")
    assert eng.sql("select c_name from customer limit 1") \
        .collect()[0][0] == "***"
    eng.session_user = "admin"
    assert eng.sql("select c_name from customer limit 1") \
        .collect()[0][0].startswith("Customer#")
    eng.session_user = "bob"
    assert eng.sql("select c_name from customer limit 1") \
        .collect()[0][0] == "***"

    # schema is unchanged by masking (same name, same column set)
    assert eng.table("customer").columns == \
        spark.table("__base_customer").columns

    # composition with the ACL: policies never widen access
    eng.grant("SELECT", "customer", "admin")
    try:
        eng.table("customer", user="bob")
        raise AssertionError("ACL should have denied bob")
    except PermissionError:
        pass

    # drop restores the original read
    eng.sql("ALTER TABLE customer MODIFY COLUMN c_name UNSET MASKING POLICY")
    eng.sql("ALTER TABLE customer DROP ROW ACCESS POLICY t_seg")
    assert eng.sql("select count(*) c from customer").collect()[0][0] == n_all
    assert eng.sql("select c_name from customer limit 1") \
        .collect()[0][0].startswith("Customer#")


def test_vacuum_catalog(spark, tmp_path):
    """VACUUM CATALOG over a source root expires every versioned table
    in one statement (VacuumCatalogHandler.java:63): Delta tables drop
    unreferenced files, Iceberg tables expire old snapshots — but
    branch/tag-pinned snapshots survive and stay readable."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta
    from dremio_oss_spark.sources.iceberg import (
        create_iceberg_ref, read_iceberg, resolve_ref, resolve_snapshot,
        write_iceberg)

    root = str(tmp_path / "cat")
    d1 = f"{root}/sales/delta_t"
    ice = f"{root}/ice_t"
    df = spark.range(20).select(F.col("id").alias("k"),
                                (F.col("id") * 1.0).alias("v"))
    write_delta(spark, df, d1)
    write_delta(spark, df.where("k < 5"), d1, mode="overwrite")  # orphans

    s1 = write_iceberg(spark, df, ice)
    create_iceberg_ref(ice, "pin", "tag", s1)   # pin snapshot 1
    write_iceberg(spark, df.where("k >= 10"), ice, mode="overwrite")
    write_iceberg(spark, df.where("k < 3"), ice, mode="overwrite")

    eng = Engine(spark)
    out = {r["table_path"]: (r["format"], r["files_removed"])
           for r in eng.sql(f"VACUUM CATALOG '{root}'").collect()}
    assert out[d1][0] == "delta" and out[d1][1] > 0
    assert out[ice][0] == "iceberg"

    # current reads fine; the tag-pinned snapshot survived expiry
    from dremio_oss_spark.sources.delta import read_delta
    assert read_delta(spark, d1).count() == 5
    assert read_iceberg(spark, ice).count() == 3
    pinned = resolve_ref(ice, "pin")
    assert pinned == s1
    assert read_iceberg(spark, ice, snapshot_id=pinned).count() == 20
    # the middle (unpinned, non-current) snapshot is gone
    import json as _json
    import glob as _glob
    import os as _os
    mf = sorted(_glob.glob(_os.path.join(ice, "metadata", "v*.metadata.json")))[-1]
    snaps = {s["snapshot-id"] for s in _json.load(open(mf)).get("snapshots", [])}
    assert s1 in snaps and len(snaps) == 2  # current + pinned only


def test_policy_on_vds(spark):
    """Policies attach to virtual datasets too (ALTER VDS ... per the
    reference grammar): enforcement shadows the VDS's flat session view,
    the underlying table is untouched, and drop restores."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.create_space("mktp")
    eng.create_vds("mktp", "custview",
                   "select c_custkey, c_name, c_mktsegment from customer")
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION vds_segonly(s STRING) "
              "RETURNS BOOLEAN RETURN s = 'BUILDING'")
    n0 = eng.sql("select count(*) c from mktp.custview").collect()[0][0]
    eng.sql("ALTER VDS mktp.custview ADD ROW ACCESS POLICY "
            "vds_segonly (c_mktsegment)")
    n = eng.sql("select count(*) c from mktp.custview").collect()[0][0]
    assert 0 < n < n0
    assert eng.sql("select count(*) c from customer") \
        .collect()[0][0] == n0  # base table untouched
    eng.sql("ALTER VDS mktp.custview DROP ROW ACCESS POLICY vds_segonly")
    assert eng.sql("select count(*) c from mktp.custview") \
        .collect()[0][0] == n0


def test_policied_tables_never_accelerate(spark):
    """A reflection materialized BEFORE a policy attaches must not
    answer queries once the policy is live — acceleration would leak
    unfiltered rows. Queries still run (through the policied view) and
    return the governed result."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE customer CREATE AGGREGATE REFLECTION cust_seg "
            "USING DIMENSIONS (c_mktsegment) MEASURES (c_custkey (COUNT))")
    q = ("select c_mktsegment, count(c_custkey) as n from customer "
         "group by c_mktsegment")
    all_rows = {r[0]: r[1] for r in eng.sql(q).collect()}
    assert eng.last_plan_accelerated == "cust_seg"

    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION acc_guard(s STRING) "
              "RETURNS BOOLEAN RETURN s = 'BUILDING'")
    eng.sql("ALTER TABLE customer ADD ROW ACCESS POLICY "
            "acc_guard (c_mktsegment)")
    got = {r[0]: r[1] for r in eng.sql(q).collect()}
    assert eng.last_plan_accelerated is None  # no acceleration under policy
    assert set(got) == {"BUILDING"}
    assert got["BUILDING"] == all_rows["BUILDING"]

    # dropping the policy re-enables acceleration
    eng.sql("ALTER TABLE customer DROP ROW ACCESS POLICY acc_guard")
    again = {r[0]: r[1] for r in eng.sql(q).collect()}
    assert eng.last_plan_accelerated == "cust_seg"
    assert again == all_rows
    eng._default_refl_store().drop("cust_seg")


def test_probe_never_executes_with_insert(spark, tmp_path):
    """Review r6: a WITH...INSERT command must execute exactly ONCE —
    the acceleration probe used to spark.sql() it eagerly (commands run
    at sql() time), double-inserting."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta

    eng = Engine(spark)
    # a registered reflection is what arms the probe
    spark.range(5).selectExpr("id as g", "id * 1.0 as v") \
        .createOrReplaceTempView("probe_tab")
    eng.sql("ALTER TABLE probe_tab CREATE AGGREGATE REFLECTION r_probe "
            "USING DIMENSIONS (g) MEASURES (v (SUM))")
    spark.sql("drop table if exists probe_sink")
    spark.range(3).selectExpr("id as k").write.saveAsTable("probe_sink")
    try:
        eng.sql("with s as (select 100 + id as k from range(2)) "
                "insert into probe_sink select k from s")
        assert spark.table("probe_sink").count() == 5  # 3+2, not 3+4
    finally:
        eng._default_refl_store().drop("r_probe")
        spark.sql("drop table if exists probe_sink")


def test_explain_plan_for_is_dry_run(spark, tmp_path):
    """Review r6: EXPLAIN PLAN FOR INSERT/CTAS/ROLLBACK must commit
    NOTHING (it used to execute the statement through the fallback)."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (read_delta,
                                                resolve_snapshot,
                                                write_delta)

    eng = Engine(spark)
    t = str(tmp_path / "d")
    write_delta(spark, spark.range(4).selectExpr("id as k"), t)
    v0 = resolve_snapshot(spark, t).version
    out = eng.sql(f"explain plan for insert into '{t}' "
                  "select id as k from range(10)")
    aspects = {r.aspect: r.detail for r in out.collect()}
    assert "dry-run" in aspects["action"].lower()
    assert resolve_snapshot(spark, t).version == v0  # nothing committed
    assert read_delta(spark, t).count() == 4
    out2 = eng.sql(f"explain plan for rollback table '{t}' "
                   "to snapshot '0'")
    assert resolve_snapshot(spark, t).version == v0


def test_table_resolves_catalog_qualified_names(spark):
    """Review r6: db.tbl for a NATIVE database must resolve through the
    facade instead of being mangled to db__tbl."""
    from dremio_oss_spark.engine import Engine

    spark.sql("create database if not exists facade_db")
    spark.range(3).write.mode("overwrite").saveAsTable("facade_db.t3")
    try:
        eng = Engine(spark)
        assert eng.table("facade_db.t3").count() == 3
    finally:
        spark.sql("drop table if exists facade_db.t3")
        spark.sql("drop database if exists facade_db")


def test_tabular_udf_arg_matching_later_param(spark):
    """Review r6: an argument equal to a LATER parameter name must not
    be re-substituted (f(y, 2) with params (x, y))."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    spark.range(3).selectExpr("id as y").createOrReplaceTempView("tt_y")
    eng.create_tabular_udf("addxy", ["x", "y"],
                           "select x + y as s from tt_y")
    got = sorted(r.s for r in eng.sql(
        "select s from table(addxy(y, 2))").collect())
    assert got == [2, 3, 4]  # column y + literal 2, NOT 2 + 2


def test_regex_accel_duplicate_aliases(spark):
    """`sum(x) as a, sum(x) as b` (one rollup column projected twice)
    answers correctly.  The reflected temp view reads `spark.range`, a
    plan node the plan-tree matcher refuses, so the query plans
    normally."""
    from dremio_oss_spark.engine import Engine

    spark.range(20).selectExpr("id % 3 as g", "id * 1.0 as v") \
        .createOrReplaceTempView("dup_tab")
    eng = Engine(spark)
    eng.sql("ALTER TABLE dup_tab CREATE AGGREGATE REFLECTION r_dup "
            "USING DIMENSIONS (g) MEASURES (v (SUM))")
    try:
        df = eng.sql("select g, sum(v) as a, sum(v) as b from dup_tab "
                     "group by g")
        rows = {r.g: (float(r.a), float(r.b)) for r in df.collect()}
        exp = {r.g: float(r.s) for r in spark.sql(
            "select g, sum(v) as s from dup_tab group by g").collect()}
        for g, (a, b) in rows.items():
            assert a == b == exp[g]
    finally:
        eng._default_refl_store().drop("r_dup")


def test_tblproperties_route_dml_modes(spark, tmp_path):
    """ALTER TABLE SET TBLPROPERTIES routes later DML: Iceberg's
    write.<verb>.mode properties and Delta's
    delta.enableDeletionVectors switch the default DML execution to
    merge-on-read (no file rewrite — asserted via file-set inclusion);
    UNSET restores copy-on-write; SHOW TBLPROPERTIES surfaces the map."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (read_delta,
                                                resolve_snapshot as rs_d,
                                                write_delta)
    from dremio_oss_spark.sources.iceberg import (read_iceberg,
                                                  resolve_snapshot as rs_i,
                                                  write_iceberg)

    eng = Engine(spark)
    df = spark.range(40).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))

    # Iceberg: property-routed MOR delete + update
    ti = str(tmp_path / "i")
    write_iceberg(spark, df, ti)
    eng.sql(f"ALTER TABLE '{ti}' SET TBLPROPERTIES ("
            "'write.delete.mode' = 'merge-on-read', "
            "'write.update.mode' = 'merge-on-read')")
    files0 = {p for p, _ in rs_i(ti).files}
    eng.sql(f"DELETE FROM '{ti}' WHERE k >= 35")
    snap = rs_i(ti)
    assert {p for p, _ in snap.files} == files0, "property-routed MOR"
    assert snap.pos_deletes
    eng.sql(f"UPDATE '{ti}' SET v = v + 1 WHERE k = 0")
    assert files0 <= {p for p, _ in rs_i(ti).files}
    cur = read_iceberg(spark, ti)
    assert cur.count() == 35 and cur.where("k = 0").collect()[0]["v"] == 1.0
    shown = {r["property"]: r["value"] for r in eng.sql(
        f"SHOW TBLPROPERTIES '{ti}'").collect()}
    assert shown.get("write.delete.mode") == "merge-on-read"
    # UNSET restores COW
    eng.sql(f"ALTER TABLE '{ti}' UNSET TBLPROPERTIES "
            "('write.delete.mode')")
    eng.sql(f"DELETE FROM '{ti}' WHERE k = 1")
    assert {p for p, _ in rs_i(ti).files} != files0  # rewrote a file
    assert read_iceberg(spark, ti).count() == 34

    # Delta: delta.enableDeletionVectors routes every DML verb
    td = str(tmp_path / "d")
    write_delta(spark, df, td)
    eng.sql(f"ALTER TABLE '{td}' SET TBLPROPERTIES "
            "('delta.enableDeletionVectors' = 'true')")
    files0 = set(rs_d(spark, td).files)
    eng.sql(f"DELETE FROM '{td}' WHERE k >= 35")
    snap = rs_d(spark, td)
    assert set(snap.files) == files0 and snap.dvs
    eng.sql(f"UPDATE '{td}' SET v = v + 1 WHERE k = 0")
    assert files0 <= set(rs_d(spark, td).files)
    cur = read_delta(spark, td)
    assert cur.count() == 35 and cur.where("k = 0").collect()[0]["v"] == 1.0
    # UNSET restores COW, and a COW MERGE sees the DV-deleted keys as
    # gone: k = 36 is re-inserted, not treated as a live match
    eng.sql(f"ALTER TABLE '{td}' UNSET TBLPROPERTIES "
            "('delta.enableDeletionVectors')")
    eng.sql(f"MERGE INTO '{td}' USING (select 36 as k, 3.5 as v) ON k = k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *")
    cur = read_delta(spark, td)
    assert cur.count() == 36
    assert cur.where("k = 36").collect()[0]["v"] == 3.5


def test_merge_clause_variants_sql(spark, tmp_path):
    """The grammar's three MERGE clause shapes (SqlMergeIntoTable:
    update-only, insert-only, both) through the SQL surface.
    Insert-only must not rewrite or mark any existing file; update-only
    must not insert."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (read_delta,
                                                resolve_snapshot,
                                                write_delta)

    eng = Engine(spark)
    t = str(tmp_path / "t")
    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    write_delta(spark, df, t)

    src = spark.createDataFrame([(3, 333.0), (50, 500.0)],
                                "k long, v double")
    src.createOrReplaceTempView("m_src")

    # update-only: matched row updates, not-matched source row ignored
    eng.sql(f"MERGE INTO '{t}' USING m_src ON k = k "
            "WHEN MATCHED THEN UPDATE SET *")
    cur = read_delta(spark, t)
    assert cur.count() == 20
    assert cur.where("k = 3").collect()[0]["v"] == 333.0
    assert cur.where("k = 50").count() == 0

    # insert-only: no file rewritten, unmatched row appended
    files0 = set(resolve_snapshot(spark, t).files)
    eng.sql(f"MERGE INTO '{t}' USING m_src ON k = k "
            "WHEN NOT MATCHED THEN INSERT *")
    snap = resolve_snapshot(spark, t)
    assert files0 <= set(snap.files), "insert-only must not rewrite"
    cur = read_delta(spark, t)
    assert cur.count() == 21
    assert cur.where("k = 50").collect()[0]["v"] == 500.0
    assert cur.where("k = 3").collect()[0]["v"] == 333.0  # untouched

    # both clauses still work
    src2 = spark.createDataFrame([(3, 1.0), (60, 600.0)],
                                 "k long, v double")
    src2.createOrReplaceTempView("m_src2")
    eng.sql(f"MERGE INTO '{t}' USING m_src2 ON k = k "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *")
    cur = read_delta(spark, t)
    assert cur.count() == 22
    assert cur.where("k = 3").collect()[0]["v"] == 1.0
    assert cur.where("k = 60").count() == 1
    spark.catalog.dropTempView("m_src")
    spark.catalog.dropTempView("m_src2")


def test_merge_using_path_and_subquery(spark, tmp_path):
    """MERGE's USING accepts any TableRef (the grammar's TableRef
    production): a quoted lake path and a parenthesized subquery, not
    just a registered view name."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta
    from dremio_oss_spark.sources.iceberg import read_iceberg, write_iceberg

    eng = Engine(spark)
    for write, read in ((write_delta, read_delta),
                        (write_iceberg, read_iceberg)):
        t = str(tmp_path / write.__name__ / "t")
        s = str(tmp_path / write.__name__ / "s")
        write(spark, spark.range(10).select(
            F.col("id").alias("k"), F.col("id").cast("double").alias("v")),
            t)
        write(spark, spark.createDataFrame(
            [(2, 22.0), (50, 500.0)], "k long, v double"), s)

        # USING '<path>'
        eng.sql(f"MERGE INTO '{t}' USING '{s}' ON k = k "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *")
        cur = read(spark, t)
        assert cur.count() == 11
        assert cur.where("k = 2").collect()[0]["v"] == 22.0
        assert cur.where("k = 50").count() == 1

        # USING (subquery)
        eng.sql(f"MERGE INTO '{t}' USING "
                f"(select k, v * 10 as v from '{s}') src ON k = k "
                "WHEN MATCHED THEN UPDATE SET *")
        cur = read(spark, t)
        assert cur.count() == 11
        assert cur.where("k = 2").collect()[0]["v"] == 220.0
        assert cur.where("k = 50").collect()[0]["v"] == 5000.0


def test_merge_user_source_alias(spark, tmp_path):
    """MERGE with a user-chosen source alias (`USING (...) src` or
    `USING view AS u`) qualifies SET expressions with that alias, on
    both lake formats; `s` stays the default."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta
    from dremio_oss_spark.sources.iceberg import read_iceberg, write_iceberg

    eng = Engine(spark)
    df = spark.range(5).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    spark.createDataFrame([(4, 0.5), (9, 9.0)], "k long, v double") \
        .createOrReplaceTempView("alias_src")
    for write, read in ((write_delta, read_delta),
                        (write_iceberg, read_iceberg)):
        t = str(tmp_path / write.__name__)
        write(spark, df, t)
        eng.sql(f"MERGE INTO '{t}' USING (select k, v * 10 as v from "
                "alias_src where k < 5) src ON t.k = src.k "
                "WHEN MATCHED THEN UPDATE SET v = src.v + 1")
        assert read(spark, t).where("k = 4").first()["v"] == 6.0
        eng.sql(f"MERGE INTO '{t}' USING alias_src AS u ON t.k = u.k "
                "WHEN MATCHED THEN UPDATE SET v = u.v * 2 + 1 "
                "WHEN NOT MATCHED THEN INSERT *")
        got = sorted((r["k"], r["v"]) for r in read(spark, t).collect())
        assert got == [(0, 0.0), (1, 1.0), (2, 2.0), (3, 3.0), (4, 2.0),
                       (9, 9.0)], write.__name__


def test_alter_ftl_remaining_productions(spark, tmp_path):
    """The remaining alter.ftl statement families: PRIMARY KEY /
    LOCALSORT / CLUSTER BY declarations land as table properties (and
    OPTIMIZE consumes the clustering key); SCHEMA LEARNING and
    APPROXIMATE STATS toggles; ENABLE/DISABLE RAW|AGGREGATE
    ACCELERATION gates substitution immediately; FORGET METADATA
    unpromotes a folder dataset."""
    import os as _os

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta

    from .conftest import SF_SMALL

    eng = Engine(spark)
    t = str(tmp_path / "alt_t")
    write_delta(spark, spark.read.parquet(
        _os.path.join(SF_SMALL, "nation.parquet")), t)
    # property-backed declarations, visible via SHOW TBLPROPERTIES
    eng.sql(f"ALTER TABLE '{t}' ADD PRIMARY KEY (n_nationkey)")
    eng.sql(f"ALTER TABLE '{t}' LOCALSORT BY (n_name)")
    eng.sql(f"ALTER TABLE '{t}' CLUSTER BY (n_regionkey, n_nationkey)")
    eng.sql(f"ALTER TABLE '{t}' DISABLE APPROXIMATE STATS")
    eng.sql(f"ALTER TABLE '{t}' ENABLE SCHEMA LEARNING")
    props = {r["property"]: r["value"] for r in
             eng.sql(f"SHOW TBLPROPERTIES '{t}'").collect()}
    assert props["dremio.primary_key"] == "n_nationkey"
    assert props["dremio.localsort"] == "n_name"
    assert props["dremio.cluster_by"] == "n_regionkey,n_nationkey"
    assert props["dremio.approximate_stats"] == "false"
    assert props["dremio.schema_learning"] == "true"
    # DISABLE APPROXIMATE STATS -> ANALYZE computes exact NDV
    eng.sql(f"ANALYZE TABLE '{t}' FOR COLUMNS (n_nationkey) "
            "COMPUTE STATISTICS")
    ndv = eng.sql(f"select ndv from sys.statistics where table_name = "
                  f"'{t}' and column_name = 'n_nationkey'").first()["ndv"]
    assert ndv == 25  # exact (HLL++ gives 26 at this cardinality)
    # OPTIMIZE without explicit ZORDER consumes the clustering key, on
    # both formats
    res = eng.sql(f"OPTIMIZE TABLE '{t}'").first()
    assert res["operation"] == "OPTIMIZE ZORDER"
    from dremio_oss_spark.sources.iceberg import write_iceberg

    ti = str(tmp_path / "alt_i")
    write_iceberg(spark, spark.read.parquet(
        _os.path.join(SF_SMALL, "nation.parquet")), ti)
    eng.sql(f"ALTER TABLE '{ti}' CLUSTER BY (n_regionkey, n_nationkey)")
    res = eng.sql(f"OPTIMIZE TABLE '{ti}'").first()
    assert res["operation"] == "OPTIMIZE ZORDER"
    assert eng.sql(f"select count(*) as n from '{ti}'").first()["n"] == 25
    # drops clear the declarations
    eng.sql(f"ALTER TABLE '{t}' DROP PRIMARY KEY")
    eng.sql(f"ALTER TABLE '{t}' DROP LOCALSORT")
    eng.sql(f"ALTER TABLE '{t}' DROP CLUSTERING KEY")
    props = {r["property"]: r["value"] for r in
             eng.sql(f"SHOW TBLPROPERTIES '{t}'").collect()}
    assert "dremio.primary_key" not in props
    assert "dremio.cluster_by" not in props
    # acceleration toggle: a covering reflection stops matching when
    # its kind is disabled, resumes on enable
    spark.read.parquet(_os.path.join(SF_SMALL, "orders.parquet")) \
        .createOrReplaceTempView("acc_orders")
    eng.sql("ALTER TABLE acc_orders CREATE AGGREGATE REFLECTION accr "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    q = ("select o_orderstatus, sum(o_totalprice) as s "
         "from acc_orders group by o_orderstatus")
    eng.sql(q)
    assert eng.last_plan_accelerated == "accr"
    eng.sql("ALTER TABLE acc_orders DISABLE AGGREGATE ACCELERATION")
    eng.sql(q)
    assert eng.last_plan_accelerated is None
    eng.sql("ALTER TABLE acc_orders DISABLE RAW ACCELERATION")
    eng.sql("ALTER TABLE acc_orders ENABLE AGGREGATE ACCELERATION")
    eng.sql(q)  # raw disabled, agg enabled -> agg matches again
    assert eng.last_plan_accelerated == "accr"
    eng._refl_store.drop("accr")
    # FORGET METADATA unpromotes
    folder = str(tmp_path / "folder_ds")
    spark.read.parquet(_os.path.join(SF_SMALL, "region.parquet")) \
        .write.mode("overwrite").parquet(folder)
    eng.promote_folder_dataset("forgetme", folder)
    assert eng.sql("select count(*) as n from forgetme").first()["n"] == 5
    eng.sql("ALTER TABLE forgetme FORGET METADATA")
    import pytest as _pt
    with _pt.raises(Exception):
        eng.sql("select count(*) as n from forgetme").collect()
    spark.catalog.dropTempView("acc_orders")


def test_dir_source_namespace_and_quoted_path_safety(spark, tmp_path):
    """Named dir-source refs resolve in SQL while quoted lake paths
    whose text CONTAINS `<source>.<word>` (e.g.
    '/root/testdata/sf0.01/x.parquet' with source `testdata`) are never
    misparsed as namespace refs."""
    import os

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    assert eng.sql(
        "select count(*) as n from testdata.region").first()["n"] == 5
    # quoted path containing "testdata.sf0..." stays a path
    p = os.path.join(SF_SMALL, "nation.parquet")
    assert eng.sql(
        f"select count(*) as n from '{p}'").first()["n"] == 25
    # mixed: namespace ref AND quoted path in ONE statement
    row = eng.sql(
        f"select (select count(*) from testdata.region) as a, "
        f"(select count(*) from '{p}') as b").first()
    assert (row["a"], row["b"]) == (5, 25)
    # csv file under a fresh dir source resolves with sniffed format
    d = str(tmp_path / "srcdir")
    os.makedirs(d)
    load(spark, SF_SMALL, "region").select("r_regionkey", "r_name") \
        .toPandas().to_csv(os.path.join(d, "reg.csv"), index=False)
    eng.create_dir_source("csvsrc", d)
    assert eng.sql(
        "select count(*) as n from csvsrc.reg").first()["n"] == 5
    assert eng.list_dir_source_tables("csvsrc") == ["reg"]


def test_dir_source_listing_probe_is_bounded_and_openable(
        spark, tmp_path):
    """The parquet-content probe behind list_dir_source_tables lists
    exactly what `spark.read.parquet(dir)` can open — flat files or
    hive-partitioned at ANY depth — while (a) never descending into
    non-partition nesting (that parquet is unreadable from the root)
    and (b) giving up on pathological parquet-free trees after a
    fixed dirent budget (SCALE.md's bounded-probe contract)."""
    import os

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    root = str(tmp_path / "src")
    # parquet under NON-partition nesting: unreadable from the root,
    # so it must not list
    deep = os.path.join(root, "deepdir", "a", "b", "c", "d")
    os.makedirs(deep)
    load(spark, SF_SMALL, "region").write.parquet(
        os.path.join(deep, "hidden"))
    # two-level hive partitioning: readable, must list
    part2 = os.path.join(root, "part2_tbl")
    load(spark, SF_SMALL, "nation").write \
        .partitionBy("n_regionkey", "n_nationkey").parquet(part2)
    # one-level partitioned and flat folders: readable, must list
    part = os.path.join(root, "part_tbl")
    load(spark, SF_SMALL, "region").write.partitionBy("r_regionkey") \
        .parquet(part)
    load(spark, SF_SMALL, "nation").write.parquet(
        os.path.join(root, "flat_tbl"))
    eng.create_dir_source("bounded", root)
    listed = eng.list_dir_source_tables("bounded")
    assert listed == ["flat_tbl", "part2_tbl", "part_tbl"]
    # every listed entry actually opens through the resolver
    for t in listed:
        assert eng.sql(
            f"select count(*) as n from bounded.{t}").first()["n"] > 0
    # budget bound: a wide parquet-free tree stops at the dirent
    # budget instead of being walked entirely
    wide = str(tmp_path / "wide")
    for i in range(40):
        os.makedirs(os.path.join(wide, f"p={i}", f"q={i}"))
    walked = []
    real_scandir = os.scandir

    def spy(path="."):
        walked.append(str(path))
        return real_scandir(path)

    try:
        os.scandir = spy
        assert not Engine._has_parquet_shallow(wide, budget=20)
    finally:
        os.scandir = real_scandir
    assert len(walked) <= 22  # root + at most budget dir opens
