"""Source/format/writer/DML queries vs DuckDB oracle."""

from __future__ import annotations

import pytest

from dremio_oss_spark.queries import sources_q

from .conftest import SF_SMALL
from .oracle import compare, duckdb_conn


@pytest.fixture(scope="module")
def oracle():
    con = duckdb_conn(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(sources_q.SOURCES_ORACLE))
def test_sources_parity(spark, oracle, name):
    df = sources_q.SOURCES_QUERIES[name](spark, SF_SMALL)
    expected = oracle.execute(sources_q.SOURCES_ORACLE[name]).fetchdf()
    problems = compare(df, expected, ordered=False)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_format_registry_lists_formats(spark):
    from dremio_oss_spark.sources.formats import FormatRegistry

    fmts = FormatRegistry(spark).formats()
    for f in ("parquet", "csv", "tsv", "psv", "json", "arrow", "orc"):
        assert f in fmts


def test_pipe_registry_ingest_dedup(spark):
    import os

    from dremio_oss_spark.queries.sources_q import _scratch
    from dremio_oss_spark.streaming.pipes import PipeRegistry

    d = _scratch("pipe", SF_SMALL)
    reg = PipeRegistry(spark)
    p = reg.create_pipe(
        "p1", os.path.join(d, "tgt"), os.path.join(SF_SMALL, "region.parquet")
    )
    assert p.run(spark) == 5
    assert reg.run("p1") == 0  # second pass: everything deduped
    assert reg.pipes() == ["p1"]


def test_excel_xlsx_roundtrip(spark, tmp_path):
    """xlsx reads natively via the stdlib OOXML parser (zip + XML):
    shared strings, numbers, gap cells, schema casting.  Legacy binary
    .xls reads via the pure-python BIFF8 parser (test_extras
    test_excel_xls_biff8_roundtrip)."""
    import zipfile

    import pytest as _pytest

    from dremio_oss_spark.sources.formats import FormatRegistry

    p = str(tmp_path / "book.xlsx")
    sheet = """<?xml version="1.0"?>
<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheetData>
  <row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c></row>
  <row r="2"><c r="A2" t="s"><v>3</v></c><c r="B2"><v>10.5</v></c><c r="C2" t="b"><v>1</v></c></row>
  <row r="3"><c r="A3" t="inlineStr"><is><t>beta</t></is></c><c r="C3" t="b"><v>0</v></c></row>
 </sheetData>
</worksheet>"""
    strings = """<?xml version="1.0"?>
<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
 <si><t>name</t></si><si><t>amount</t></si><si><t>active</t></si><si><t>alpha</t></si>
</sst>"""
    workbook = """<?xml version="1.0"?>
<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
 <sheets><sheet name="Sheet1" sheetId="1"/></sheets>
</workbook>"""
    with zipfile.ZipFile(p, "w") as z:
        z.writestr("xl/workbook.xml", workbook)
        z.writestr("xl/sharedStrings.xml", strings)
        z.writestr("xl/worksheets/sheet1.xml", sheet)

    reg = FormatRegistry(spark)
    assert "xlsx" in reg.formats()
    df = reg.read(p, "xlsx", schema="name string, amount double, active boolean")
    rows = {r["name"]: (r["amount"], r["active"]) for r in df.collect()}
    assert rows == {"alpha": (10.5, True), "beta": (None, False)}  # gap cell -> null

    # .xls routes to the BIFF8 reader: a missing file errors cleanly
    with _pytest.raises(FileNotFoundError):
        reg.read("/nonexistent.xls", "xls")


def test_copy_into_on_error_continue(spark):
    import os

    from dremio_oss_spark.queries.sources_q import _scratch
    from dremio_oss_spark.sources.writer import copy_into, read_table

    d = _scratch("onerror", SF_SMALL)
    src = os.path.join(d, "in.csv")
    with open(src, "w") as f:
        f.write("a,b\n1,x\n2,y\nnot_an_int_row_with_extra,,,,\n3,z\n")
    n = copy_into(
        spark,
        os.path.join(d, "tgt"),
        src,
        fmt="csv",
        schema="a int, b string",
        on_error="continue",
        header="true",
    )
    assert n == 3
    assert read_table(spark, os.path.join(d, "tgt")).count() == 3
    rejects = spark.read.parquet(os.path.join(d, "tgt", "_rejects"))
    assert rejects.count() == 1


def test_tags_merge_branch_and_show_surface(spark, tmp_path):
    """Tags pin snapshots (expiry-protected, immutable); MERGE BRANCH
    fast-forwards or raises on divergence; SHOW BRANCHES/TAGS/LOGS work
    through the engine SQL surface (parserImpls.ftl:943, Parser.tdd),
    on an Iceberg table."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.iceberg import (
        create_iceberg_ref, delete_from_iceberg, expire_iceberg_snapshots,
        iceberg_history, merge_iceberg_branch, read_iceberg, write_iceberg)

    t = str(tmp_path / "part_t")
    part = load(spark, SF_SMALL, "part").where(F.col("p_partkey") <= 200)
    write_iceberg(spark, part, t)
    n0 = read_iceberg(spark, t).count()

    # tag the initial snapshot, then mutate main
    create_iceberg_ref(t, "v1", "tag")
    with pytest.raises(ValueError, match="already exists"):
        create_iceberg_ref(t, "v1", "tag")
    delete_from_iceberg(spark, t, "p_size > 25")
    n1 = read_iceberg(spark, t).count()
    assert n1 < n0
    assert read_iceberg(spark, t, ref="v1").count() == n0  # tag sees all

    # expiry must keep the tag's snapshot even though it's old
    expire_iceberg_snapshots(t, keep_last=1)
    assert read_iceberg(spark, t, ref="v1").count() == n0
    assert len(iceberg_history(t)) == 2  # head + tagged

    # dev branch advances; main untouched since fork -> fast-forward merge
    create_iceberg_ref(t, "dev", "branch")
    extra = part.where(F.col("p_partkey") <= 3)
    n_extra = extra.count()
    write_iceberg(spark, extra, t, mode="append", branch="dev")
    assert read_iceberg(spark, t).count() == n1
    merge_iceberg_branch(t, "dev", "main")
    assert read_iceberg(spark, t).count() == n1 + n_extra
    assert (read_iceberg(spark, t).count()
            == read_iceberg(spark, t, ref="dev").count())

    # divergence: both branches move independently -> merge refuses
    create_iceberg_ref(t, "dev2", "branch")
    write_iceberg(spark, extra, t, mode="append", branch="dev2")
    write_iceberg(spark, extra, t, mode="append")  # main moves too
    with pytest.raises(ValueError, match="diverged"):
        merge_iceberg_branch(t, "dev2", "main")

    eng = Engine(spark)
    branches = {r["branch_name"]
                for r in eng.sql(f"show branches in '{t}'").collect()}
    assert {"main", "dev", "dev2"} <= branches
    tags = {r["tag_name"] for r in eng.sql(f"show tags in '{t}'").collect()}
    assert tags == {"v1"}
    assert eng.sql(f"show logs in '{t}'").count() == len(iceberg_history(t))


def test_show_describe_statements(spark):
    """SHOW TABLES/VIEWS/SCHEMAS + DESCRIBE TABLE engine surface."""
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    tables = {r["table_name"] for r in eng.show_tables().collect()} | {
        r["table_name"] for r in eng.show_views().collect()
    }
    assert {"region", "nation"} <= tables
    assert eng.show_schemas().count() >= 1
    cols = {r["col_name"] for r in eng.describe_table("region").collect()}
    assert {"r_regionkey", "r_name"} <= cols


def test_delta_reader_partitions_checkpoint_history(spark, tmp_path):
    """Delta log reader: partitionValues reconstruction, checkpoint
    replay, time travel, DESCRIBE HISTORY (DeltaLakeFormatPlugin.java)."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import delta_history, read_delta
    from dremio_oss_spark.sources.lake_dml import codec_of

    t = str(tmp_path / "dt")
    os.makedirs(os.path.join(t, "_delta_log"))
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id bigint, k string, v bigint"
    )

    def one_file(sub, name):
        stage = str(tmp_path / f"stage_{name}")
        sub.select("id", "v").coalesce(1).write.mode("overwrite").parquet(stage)
        os.replace(glob.glob(os.path.join(stage, "part-*.parquet"))[0],
                   os.path.join(t, name))
        return name

    fa = one_file(df.where("k = 'a'"), "fa.parquet")
    fb = one_file(df.where("k = 'b'"), "fb.parquet")

    def commit(v, actions):
        with open(os.path.join(t, "_delta_log", f"{v:020d}.json"), "w") as fh:
            fh.write("".join(json.dumps(a) + "\n" for a in actions))

    schema_json = spark.createDataFrame([], "id bigint, v bigint, k string").schema.json()
    commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "x", "format": {"provider": "parquet", "options": {}},
                      "schemaString": schema_json, "partitionColumns": ["k"],
                      "configuration": {}}},
        {"commitInfo": {"operation": "WRITE", "timestamp": 0}},
        {"add": {"path": fa, "partitionValues": {"k": "a"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
        {"add": {"path": fb, "partitionValues": {"k": "b"}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    assert codec_of(t).name == "delta"
    got = {(r["id"], r["k"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got == {(1, "a", 10), (2, "a", 20), (3, "b", 30)}

    # commit 1 removes partition b
    commit(1, [
        {"commitInfo": {"operation": "DELETE", "timestamp": 1}},
        {"remove": {"path": fb, "deletionTimestamp": 1, "dataChange": True}},
    ])
    assert read_delta(spark, t).count() == 2
    assert read_delta(spark, t, version=0).count() == 3  # time travel

    # checkpoint at v1 + commit 2 re-adds b: replay = checkpoint + tail
    add_a = {"add": {"path": fa, "partitionValues": {"k": "a"}, "size": 1,
                     "modificationTime": 0, "dataChange": True}}
    cp_rows = [
        {"metaData": json.loads(json.dumps({"id": "x",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json, "partitionColumns": ["k"],
            "configuration": {}}))},
        add_a,
    ]
    spark.createDataFrame([(json.dumps(r),) for r in cp_rows], "json string") \
        .selectExpr("from_json(json, 'metaData struct<id:string,format:struct<provider:string>,schemaString:string,partitionColumns:array<string>>, add struct<path:string,partitionValues:map<string,string>,size:bigint,modificationTime:bigint,dataChange:boolean>') as a") \
        .select("a.*").coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "cp_stage"))
    os.replace(glob.glob(str(tmp_path / "cp_stage/part-*.parquet"))[0],
               os.path.join(t, "_delta_log", f"{1:020d}.checkpoint.parquet"))
    with open(os.path.join(t, "_delta_log", "_last_checkpoint"), "w") as fh:
        json.dump({"version": 1, "size": 2}, fh)
    commit(2, [
        {"commitInfo": {"operation": "WRITE", "timestamp": 2}},
        {"add": {"path": fb, "partitionValues": {"k": "b"}, "size": 1,
                 "modificationTime": 2, "dataChange": True}},
    ])
    assert read_delta(spark, t).count() == 3  # checkpoint + tail commit
    hist = delta_history(t)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[1]["operation"] == "DELETE"


def test_codec_of_refuses_plain_parquet_dirs(spark, tmp_path):
    """One rule decides which lake format a path holds: a `_delta_log`
    directory is Delta, a `metadata/version-hint.text` file is Iceberg.
    A plain parquet directory is neither, with or without a `metadata/`
    subdirectory, so lake statements leave it alone."""
    import os

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.lake_dml import codec_of

    plain = str(tmp_path / "plain")
    spark.range(3).write.parquet(plain)
    assert codec_of(plain) is None

    with_md = str(tmp_path / "with_md")
    spark.range(3).write.parquet(with_md)
    os.makedirs(os.path.join(with_md, "metadata"))
    assert codec_of(with_md) is None

    eng = Engine(spark)
    for path in (plain, with_md):
        assert eng._lake_statement(f"DELETE FROM '{path}'") is None
        with pytest.raises(ValueError, match="not a lakehouse table"):
            eng.table_snapshot(path)


def test_iceberg_reader_partitions_snapshots_history(spark, tmp_path):
    """Iceberg metadata reader: vN.metadata.json + Avro manifest list +
    manifests, identity partition values, snapshot time travel, history
    (IcebergFormatPlugin.java / IcebergScanPrel.java:96)."""
    import glob
    import json
    import os

    from dremio_oss_spark.sources.avro_codec import write_avro_file
    from dremio_oss_spark.sources.iceberg import iceberg_history, read_iceberg
    from dremio_oss_spark.sources.lake_dml import codec_of

    t = str(tmp_path / "it")
    os.makedirs(os.path.join(t, "metadata"))
    os.makedirs(os.path.join(t, "data"))
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "a"), (3, 30, "b")], "id long, v long, k string"
    )

    def one_file(sub, name):
        stage = str(tmp_path / f"stage_{name}")
        sub.select("id", "v").coalesce(1).write.mode("overwrite").parquet(stage)
        os.replace(glob.glob(os.path.join(stage, "part-*.parquet"))[0],
                   os.path.join(t, "data", name))
        return f"data/{name}"

    fa = one_file(df.where("k = 'a'"), "fa.parquet")
    fb = one_file(df.where("k = 'b'"), "fb.parquet")

    MANIFEST_SCHEMA = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": [
                            {"name": "k", "type": ["null", "string"]},
                        ]}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ]}
    LIST_SCHEMA = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"]},
        ]}

    def entry(status, path, k):
        return {"status": status, "snapshot_id": 1,
                "data_file": {"file_path": path, "file_format": "PARQUET",
                              "partition": {"k": k}, "record_count": 1,
                              "file_size_in_bytes": 1}}

    def manifest(name, entries):
        p = os.path.join(t, "metadata", name)
        write_avro_file(p, MANIFEST_SCHEMA, entries)
        return p

    def mlist(name, manifests):
        p = os.path.join(t, "metadata", name)
        write_avro_file(p, LIST_SCHEMA, [
            {"manifest_path": m, "manifest_length": 1,
             "partition_spec_id": 0, "added_snapshot_id": 1}
            for m in manifests
        ])
        return p

    m1 = manifest("m1.avro", [entry(1, fa, "a"), entry(1, fb, "b")])
    ml1 = mlist("ml1.avro", [m1])
    # snapshot 2: partition b deleted (status 2 tombstone in a new manifest)
    m2 = manifest("m2.avro", [entry(0, fa, "a"), entry(2, fb, "b")])
    ml2 = mlist("ml2.avro", [m2])

    meta = {
        "format-version": 2,
        "table-uuid": "fixture",
        "location": t,
        "current-snapshot-id": 2,
        "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "id", "required": False, "type": "long"},
            {"id": 2, "name": "v", "required": False, "type": "long"},
            {"id": 3, "name": "k", "required": False, "type": "string"},
        ]}],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": [
            {"name": "k", "transform": "identity",
             "source-id": 3, "field-id": 1000},
        ]}],
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1000,
             "summary": {"operation": "append"}, "manifest-list": ml1},
            {"snapshot-id": 2, "timestamp-ms": 2000,
             "summary": {"operation": "delete"}, "manifest-list": ml2},
        ],
    }
    with open(os.path.join(t, "metadata", "v2.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(t, "metadata", "version-hint.text"), "w") as fh:
        fh.write("2")

    assert codec_of(t).name == "iceberg"
    head = {(r["id"], r["v"], r["k"]) for r in read_iceberg(spark, t).collect()}
    assert head == {(1, 10, "a"), (2, 20, "a")}  # partition b tombstoned
    v1 = {(r["id"], r["k"]) for r in read_iceberg(spark, t, snapshot_id=1).collect()}
    assert v1 == {(1, "a"), (2, "a"), (3, "b")}  # time travel
    hist = iceberg_history(t)
    assert [h["snapshot_id"] for h in hist] == [1, 2]
    assert hist[1]["operation"] == "delete"


def test_delta_writer_roundtrip(spark, tmp_path):
    """Delta write path (delta.io PROTOCOL.md writer): partitioned CTAS,
    append, copy-on-write DELETE; read-your-writes + time travel +
    hit-file pruning (untouched partitions keep their original files)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta,
        delta_history,
        read_delta,
        write_delta,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, float(i)) for i in range(30)], "id long, k int, v double"
    )
    assert write_delta(spark, df, t, partition_by=["k"]) == 0
    assert write_delta(
        spark, df.withColumn("id", F.col("id") + 100), t,
        mode="append", partition_by=["k"],
    ) == 1
    assert read_delta(spark, t).count() == 60

    files_before = set(glob.glob(os.path.join(t, "**", "*.parquet"),
                                 recursive=True))
    assert delete_from_delta(spark, t, "k = 1 and id >= 100") == 2
    cur = read_delta(spark, t)
    assert cur.count() == 50
    assert cur.where("k = 1 and id >= 100").count() == 0
    # COW only rewrote k=1 files: k=0 / k=2 file sets are untouched
    untouched = {p for p in files_before if "k=1" not in p}
    assert untouched <= set(
        glob.glob(os.path.join(t, "**", "*.parquet"), recursive=True)
    )
    # time travel and history
    assert read_delta(spark, t, version=1).count() == 60
    assert [h["operation"] for h in delta_history(t)] == [
        "CREATE TABLE AS SELECT", "WRITE", "DELETE",
    ]
    # partition values survive the log round-trip with their types
    assert dict(cur.dtypes)["k"] == "int"
    # overwrite drops all prior data
    write_delta(spark, df.limit(5), t, mode="overwrite")
    assert read_delta(spark, t).count() == 5
    assert read_delta(spark, t, version=1).count() == 60


def test_iceberg_writer_roundtrip(spark, tmp_path):
    """Iceberg write path (table-spec writer via the pure-Python Avro
    codec): partitioned CTAS, append snapshot, COW delete snapshot;
    read-your-writes + snapshot time travel + self-describing metadata
    (a fresh resolve_snapshot sees the written schema/partitioning)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg,
        iceberg_history,
        read_iceberg,
        resolve_snapshot,
        write_iceberg,
    )

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, "ab"[i % 2], float(i)) for i in range(20)],
        "id long, k string, v double",
    )
    s1 = write_iceberg(spark, df, t, partition_by=["k"])
    s2 = write_iceberg(
        spark, df.withColumn("id", F.col("id") + 100), t,
        mode="append", partition_by=["k"],
    )
    s3 = delete_from_iceberg(spark, t, "k = 'a' and id >= 100")
    assert (s1, s2, s3) == (1, 2, 3)

    cur = read_iceberg(spark, t)
    assert cur.count() == 30
    assert cur.where("k = 'a' and id >= 100").count() == 0
    assert read_iceberg(spark, t, snapshot_id=s2).count() == 40
    assert read_iceberg(spark, t, snapshot_id=s1).count() == 20
    assert [h["operation"] for h in iceberg_history(t)] == [
        "overwrite", "append", "delete",
    ]
    snap = resolve_snapshot(t)
    assert snap.partition_cols == ["k"]
    assert {f.name for f in snap.schema.fields} == {"id", "k", "v"}
    # values, not just counts
    assert cur.agg(F.sum("id")).collect()[0][0] == sum(range(20)) + sum(
        i + 100 for i in range(20) if i % 2 == 1
    )


def test_delta_update_merge_optimize_vacuum(spark, tmp_path):
    """Full Delta DML surface: UPDATE (COW, file-pruned), MERGE INTO
    (update matched + insert unmatched), OPTIMIZE (bin-pack,
    dataChange=false), VACUUM (drop unreferenced files)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delta_history, merge_into_delta, optimize_delta, read_delta,
        resolve_snapshot, update_delta, vacuum_delta, write_delta)

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, float(i) * 10) for i in range(60)],
        "k long, p long, v double",
    )
    write_delta(spark, df, t, partition_by=["p"])

    update_delta(spark, t, {"v": "v + 1"}, "k < 6")
    cur = read_delta(spark, t)
    assert cur.where("k < 6").agg(F.sum("v")).collect()[0][0] == sum(
        i * 10 + 1 for i in range(6))
    assert cur.where("k >= 6").agg(F.sum("v")).collect()[0][0] == sum(
        i * 10.0 for i in range(6, 60))

    src = spark.createDataFrame(
        [(0, 0, 999.0), (100, 1, 5.0)], "k long, p long, v double")
    merge_into_delta(spark, t, src, on=["k"])
    cur = read_delta(spark, t)
    assert cur.count() == 61
    got = {r["k"]: r["v"] for r in cur.where("k in (0, 100)").collect()}
    assert got == {0: 999.0, 100: 5.0}

    n_before = len(resolve_snapshot(spark, t).files)
    optimize_delta(spark, t)
    assert len(resolve_snapshot(spark, t).files) <= 3 < n_before
    removed = vacuum_delta(spark, t)
    assert removed and read_delta(spark, t).count() == 61
    assert [h["operation"] for h in delta_history(t)] == [
        "CREATE TABLE AS SELECT", "UPDATE", "MERGE", "OPTIMIZE"]


def test_iceberg_update_merge_optimize_expire(spark, tmp_path):
    """Iceberg DML surface incl. snapshot expiry (VACUUM TABLE)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        expire_iceberg_snapshots, merge_into_iceberg, optimize_iceberg,
        read_iceberg, resolve_snapshot, update_iceberg, write_iceberg)

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 3, float(i) * 10) for i in range(60)],
        "k long, p long, v double",
    )
    write_iceberg(spark, df, t, partition_by=["p"])
    update_iceberg(spark, t, {"v": "v * 2"}, "k >= 58")
    src = spark.createDataFrame(
        [(1, 1, -1.0), (200, 2, -2.0)], "k long, p long, v double")
    merge_into_iceberg(spark, t, src, on=["k"])
    cur = read_iceberg(spark, t)
    assert cur.count() == 61
    got = {r["k"]: r["v"] for r in
           cur.where("k in (1, 58, 59, 200)").collect()}
    assert got == {1: -1.0, 58: 1160.0, 59: 1180.0, 200: -2.0}

    optimize_iceberg(spark, t)
    removed = expire_iceberg_snapshots(t, keep_last=1)
    assert removed
    after = read_iceberg(spark, t)
    assert after.count() == 61
    assert len(resolve_snapshot(t).files) <= 3


def test_partition_values_with_uri_special_chars(spark, tmp_path):
    """Regression: input_file_name() returns a percent-ENCODED URI and
    Spark hive-escapes special chars in partition dir names, so string
    partition values like 'Brand#6' used to (a) never match the
    file->partitionValues broadcast join and (b) compound-escape on
    every re-staging ('Brand#6' -> 'Brand%236' -> 'Brand%25236')."""
    from dremio_oss_spark.sources.delta import (
        read_delta, resolve_snapshot, update_delta, write_delta)

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, f"Brand#{i % 2}", float(i)) for i in range(10)],
        "k long, brand string, v double",
    )
    write_delta(spark, df, t, partition_by=["brand"])
    assert read_delta(spark, t).count() == 10
    update_delta(spark, t, {"v": "v + 1"}, "k < 5")  # re-stages hit files
    cur = read_delta(spark, t)
    assert sorted(r["brand"] for r in cur.select("brand").distinct()
                  .collect()) == ["Brand#0", "Brand#1"]
    assert {pv["brand"] for pv in
            resolve_snapshot(spark, t).files.values()} == {
        "Brand#0", "Brand#1"}


def _rename_delta_data_files(table: str, name) -> None:
    """Rename every data file of a one-commit Delta table to
    `name(i)`, in place and in the log's `add.path`."""
    import json
    import os

    log = os.path.join(table, "_delta_log", f"{0:020d}.json")
    with open(log) as f:
        actions = [json.loads(line) for line in f if line.strip()]
    i = 0
    for a in actions:
        if "add" in a:
            old = a["add"]["path"]
            new = os.path.join(os.path.dirname(old), name(i))
            os.rename(os.path.join(table, old), os.path.join(table, new))
            a["add"]["path"] = new
            i += 1
    with open(log, "w") as f:
        f.write("".join(json.dumps(a) + "\n" for a in actions))


@pytest.mark.parametrize("mode,partitioned", [
    ("copy-on-write", False), ("copy-on-write", True),
    ("merge-on-read", False)])
def test_dml_on_data_file_with_uri_special_name(spark, tmp_path, mode,
                                                partitioned):
    """A data file whose name holds URI-special characters (space, `#`,
    `%`, `+`): Spark reports the scan's file name percent-encoded, and
    DML used to join that against the log's decoded name, so DELETE,
    UPDATE and MERGE silently touched no row of the file.  Each verb now
    changes exactly the rows it matches."""
    from dremio_oss_spark.sources import delta as D
    from dremio_oss_spark.sources import lake_dml

    df = spark.createDataFrame([(k, k % 2, float(k)) for k in range(10)],
                               "k long, p long, v double").coalesce(1)
    src = spark.createDataFrame([(1, 1, 100.0), (2, 0, 200.0),
                                 (20, 0, 20.0)], "k long, p long, v double")
    want = {k: float(k) for k in range(10)}
    expected = {
        "delete": {k: v for k, v in want.items() if k >= 3},
        "update": {k: v + 100 * (k < 3) for k, v in want.items()},
        "merge": {**want, 1: 100.0, 2: 200.0, 20: 20.0},
    }
    for verb, rows in expected.items():
        t = str(tmp_path / verb)
        D.write_delta(spark, df, t,
                      partition_by=["p"] if partitioned else None)
        _rename_delta_data_files(t, lambda i: f"a b%23c+d#e-{i}.parquet")
        assert D.read_delta(spark, t).count() == 10
        if verb == "delete":
            lake_dml.delete(D.DML, spark, t, "k < 3", mode)
        elif verb == "update":
            lake_dml.update(D.DML, spark, t, {"v": "v + 100"}, "k < 3",
                            mode)
        else:
            lake_dml.merge(D.DML, spark, t, src, ["k"], mode=mode)
        got = {r["k"]: r["v"] for r in D.read_delta(spark, t).collect()}
        assert got == rows, (verb, got)


def test_iceberg_partition_transforms_prune_and_dml(spark, tmp_path):
    """bucket/truncate/year hidden partitioning: source columns stay in
    the data files, manifests carry the transform values, equality
    bindings prune at the manifest level, and COW DML re-derives the
    layout."""
    import datetime as dt

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        plan_iceberg_scan, read_iceberg, resolve_snapshot,
        update_iceberg, write_iceberg)

    t = str(tmp_path / "t")
    rows = [(i, f"cat{i % 7}", dt.date(2020 + i % 3, 1 + i % 12, 5),
             float(i)) for i in range(120)]
    df = spark.createDataFrame(rows, "k long, cat string, d date, v double")
    write_iceberg(spark, df, t, partition_by=[
        "bucket(4, k)", "truncate(4, cat)", "year(d)"])

    # full read: all columns incl. transform sources, exact rows
    full = read_iceberg(spark, t)
    assert full.count() == 120
    assert set(full.columns) == {"k", "cat", "d", "v"}

    snap = resolve_snapshot(t)
    assert [pf["transform"] for pf in snap.spec_fields] == [
        "bucket[4]", "truncate[4]", "year"]
    assert all({"k_bucket", "cat_truncate", "d_year"} <= set(pv)
               for _, pv in snap.files)

    # pruning on the bucket source column
    pruned, total, scanned = plan_iceberg_scan(spark, t, {"k": 17})
    assert 0 < scanned < total
    assert pruned.where("k = 17").count() == 1

    # DML preserves hidden layout
    update_iceberg(spark, t, {"v": "v + 100"}, "k = 17")
    snap2 = resolve_snapshot(t)
    assert all({"k_bucket", "cat_truncate", "d_year"} <= set(pv)
               for _, pv in snap2.files)
    _, _, scanned2 = plan_iceberg_scan(spark, t, {"k": 17})
    assert scanned2 < total
    assert read_iceberg(spark, t).where("k = 17").collect()[0]["v"] == 117.0


def test_schema_evolution_add_drop(spark, tmp_path):
    """ALTER TABLE ADD/DROP COLUMNS on Delta and Iceberg: metadata-only,
    old files null-fill added columns, dropped columns project away,
    Delta time travel sees the historical schema, partition (source)
    columns refuse to drop."""
    import pytest as _pytest
    from decimal import Decimal

    from dremio_oss_spark.sources.delta import (
        alter_delta, read_delta, write_delta)
    from dremio_oss_spark.sources.iceberg import (
        alter_iceberg, read_iceberg, write_iceberg)

    t = str(tmp_path / "d")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(10)], "k long, p long, v double")
    write_delta(spark, df, t, partition_by=["p"])
    alter_delta(spark, t, add={"w": "decimal(10,2)"})
    cur = read_delta(spark, t)
    assert set(cur.columns) == {"k", "p", "v", "w"}
    assert cur.where("w is null").count() == 10
    write_delta(spark, spark.createDataFrame(
        [(100, 0, 1.0, Decimal("5.50"))],
        "k long, p long, v double, w decimal(10,2)"),
        t, mode="append", partition_by=["p"])
    assert read_delta(spark, t).where("w is not null").count() == 1
    assert set(read_delta(spark, t, version=0).columns) == {"k", "p", "v"}
    with _pytest.raises(ValueError):
        alter_delta(spark, t, drop=["p"])
    alter_delta(spark, t, drop=["v"])
    assert set(read_delta(spark, t).columns) == {"k", "p", "w"}

    t2 = str(tmp_path / "i")
    write_iceberg(spark, df, t2, partition_by=["p"])
    alter_iceberg(t2, add={"tag": "string"})
    assert read_iceberg(spark, t2).where("tag is null").count() == 10
    with _pytest.raises(ValueError):
        alter_iceberg(t2, drop=["p"])
    alter_iceberg(t2, drop=["v"])
    assert set(read_iceberg(spark, t2).columns) == {"k", "p", "tag"}


def test_delta_checkpoint_write_and_aged_log(spark, tmp_path):
    """Auto-checkpoint every 10 commits: a single-file parquet
    checkpoint + _last_checkpoint pointer; reads replay checkpoint +
    later commits only, so pre-checkpoint JSON commits can age out and
    further commits stack on top (delta.io compaction mechanism)."""
    import glob
    import os

    from dremio_oss_spark.sources.delta import (
        _commit_files, delete_from_delta, read_delta, write_delta)

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(20)],
        "k long, p long, v double")
    write_delta(spark, df, t, partition_by=["p"])
    for j in range(10):
        delete_from_delta(spark, t, f"k = {j}")

    assert os.path.exists(os.path.join(t, "_delta_log", "_last_checkpoint"))
    assert glob.glob(os.path.join(t, "_delta_log", "*.checkpoint.parquet"))
    assert read_delta(spark, t).count() == 10

    for v, fp in _commit_files(t):
        if v < 10:
            os.remove(fp)
    cur = read_delta(spark, t)
    assert cur.count() == 10
    assert dict(cur.dtypes)["p"] == "bigint"  # schema from checkpoint
    assert cur.where("p = 1").count() == 5
    delete_from_delta(spark, t, "k = 10")
    assert read_delta(spark, t).count() == 9


def test_delta_checkpoint_arrow_roundtrip_action_kinds(spark, tmp_path):
    """r14 optimization: checkpoints are written AND read with pyarrow
    on the driver (zero Spark jobs).  Pins that every ACTION KIND
    survives the round-trip — the naive pa.Table.from_pylist infers
    its schema from the FIRST row only, which silently nulled every
    non-protocol action (caught by the 3-way equivalence harness) —
    and that the on-disk file stays Spark-SQL-readable nested parquet
    with all top-level action columns."""
    import os

    from dremio_oss_spark.sources.delta import (
        _checkpoint_actions, checkpoint_delta, delete_from_delta,
        resolve_snapshot, write_delta)

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, i % 2, float(i)) for i in range(8)], "k long, p long, v double")
    write_delta(spark, df, t, partition_by=["p"], enable_cdf=True)
    delete_from_delta(spark, t, "k = 1")
    snap = resolve_snapshot(spark, t)
    checkpoint_delta(spark, t, snap.version)
    acts = _checkpoint_actions(spark, t, snap.version)
    kinds = {k for a in acts for k in a}
    assert {"protocol", "metaData", "add"} <= kinds, kinds
    adds = [a["add"] for a in acts if "add" in a]
    assert {a["path"] for a in adds} == set(snap.files)
    assert all("partitionValues" in a for a in adds)
    md = next(a["metaData"] for a in acts if "metaData" in a)
    assert md["configuration"]["delta.enableChangeDataFeed"] == "true"
    assert md["partitionColumns"] == ["p"]
    # the file itself is plain nested parquet Spark can query
    cp = os.path.join(t, "_delta_log",
                      f"{snap.version:020d}.checkpoint.parquet")
    cdf = spark.read.parquet(cp)
    assert {"protocol", "metaData", "add"} <= set(cdf.columns)
    assert cdf.where("add is not null").count() == len(adds)


def test_delta_file_stats_skipping(spark, tmp_path):
    """add.stats (numRecords/minValues/maxValues) are collected per
    staged file, survive COW rewrites and checkpoints, and
    plan_delta_scan skips files by both partition values and min/max
    ranges."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        plan_delta_scan, resolve_snapshot, update_delta, write_delta)

    t = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") / 100).cast("long").alias("p"),
        (F.col("id").cast("double") * 2).alias("v"))
    write_delta(spark, df, t, partition_by=["p"])

    snap = resolve_snapshot(spark, t)
    assert len(snap.stats) == len(snap.files) == 10
    st = next(iter(snap.stats.values()))
    assert {"numRecords", "minValues", "maxValues"} <= set(st)

    pruned, total, scanned = plan_delta_scan(spark, t, {"k": 137})
    assert (total, scanned) == (10, 1)
    assert pruned.where("k = 137").count() == 1

    update_delta(spark, t, {"v": "v + 1"}, "k = 137")
    snap2 = resolve_snapshot(spark, t)
    assert len(snap2.stats) == len(snap2.files)  # rewrite re-collected
    pruned2, _, s2 = plan_delta_scan(spark, t, {"k": 137})
    assert s2 == 1
    assert pruned2.where("k = 137").collect()[0]["v"] == 275.0


def test_iceberg_manifest_stats_skipping(spark, tmp_path):
    """Manifest column bounds (stats_json engine extension): collected
    per staged file, carried through COW rewrites, and applied by
    plan_iceberg_scan alongside partition-transform pruning."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        plan_iceberg_scan, resolve_snapshot, update_iceberg,
        write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id").cast("double") * 2).alias("v"))
    write_iceberg(spark, df.repartitionByRange(8, "k"), t)
    snap = resolve_snapshot(t)
    assert len(snap.stats) == len(snap.files) == 8

    pruned, total, scanned = plan_iceberg_scan(spark, t, {"k": 137})
    assert (total, scanned) == (8, 1)
    assert pruned.where("k = 137").count() == 1

    update_iceberg(spark, t, {"v": "v + 1"}, "k = 137")
    snap2 = resolve_snapshot(t)
    assert len(snap2.stats) == len(snap2.files)
    pruned2, _, s2 = plan_iceberg_scan(spark, t, {"k": 137})
    assert s2 == 1
    assert pruned2.where("k = 137").collect()[0]["v"] == 275.0


def test_collect_stats_footer_and_scan_agree(spark, tmp_path):
    """`spark.dremio.stats.footerMaxFiles` at its default (stats from
    the footers just written) and at 0 (the scan only) give the same
    per-file stats for every stats type: timestamps with microseconds
    and before 1970, all-NULL chunks and an empty file.  A file whose
    timestamps are INT96 (no footer bounds) takes the scan at either
    setting and still matches."""
    import datetime as dt
    import glob
    import os

    from dremio_oss_spark.sources import delta

    schema = spark.createDataFrame(
        [], "i int, b bigint, d double, s string, dt date, ts timestamp"
    ).schema
    batches = [
        [(1, 10, 1.5, "a", dt.date(1969, 12, 31),
          dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
         (-3, 2 ** 40, -0.25, "zz", dt.date(2024, 2, 29),
          dt.datetime(2024, 2, 29, 12, 0, 0, 1))],
        [(7, None, None, "é", None, None), (8, None, None, "", None, None)],
        [(2, 5, 0.0, "m", dt.date(1900, 1, 1),
          dt.datetime(1900, 1, 1, 0, 0, 0, 250000))],
        [],
    ]
    t = str(tmp_path / "t")

    def stage(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(t, name))
        return [(os.path.relpath(f, t), {}) for f in
                glob.glob(os.path.join(t, name, "part-*.parquet"))]

    staged = [f for i, rows in enumerate(batches)
              for f in stage(rows, f"b{i}")]
    key = "spark.sql.parquet.outputTimestampType"
    prev = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        int96 = stage(batches[0], "int96")
    finally:
        spark.conf.set(key, prev)

    def stats(files, footer_max):
        spark.conf.set("spark.dremio.stats.footerMaxFiles", footer_max)
        try:
            return delta._collect_stats(spark, t, files, schema, [])
        finally:
            spark.conf.unset("spark.dremio.stats.footerMaxFiles")

    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    assert delta._footer_stats(t, staged, types) is not None
    footer = stats(staged, "64")
    assert footer == stats(staged, "0")
    first = footer[staged[0][0]]
    assert first["minValues"]["ts"] == "1969-12-31 23:59:59.999999"
    assert first["maxValues"]["ts"] == "2024-02-29 12:00:00.000001"
    assert {v["numRecords"] for v in footer.values()} == {2, 1, 0}
    assert delta._footer_stats(t, int96, types) is None
    assert stats(staged + int96, "64") == stats(staged + int96, "0")


def test_iceberg_merge_on_read_equality_deletes(spark, tmp_path):
    """MOR DELETE writes an equality-delete file (spec content=2): no
    data rewrite, readers anti-join, deletes stack, COW ops on the MOR
    state stay correct, OPTIMIZE compacts the deletes away, and time
    travel before the delete still sees all rows."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, optimize_iceberg, read_iceberg,
        resolve_snapshot, update_iceberg, write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t, partition_by=["p"])

    files_before = {p for p, _ in resolve_snapshot(t).files}
    delete_from_iceberg(spark, t, "k >= 90", mode="merge-on-read",
                        equality_cols=["k"])
    snap = resolve_snapshot(t)
    assert {p for p, _ in snap.files} == files_before  # no rewrite
    assert len(snap.deletes) == 1
    cur = read_iceberg(spark, t)
    assert cur.count() == 90
    assert cur.where("k >= 90").count() == 0

    delete_from_iceberg(spark, t, "k < 5", mode="merge-on-read",
                        equality_cols=["k"])
    assert read_iceberg(spark, t).count() == 85

    update_iceberg(spark, t, {"v": "v + 1000"}, "k = 10")
    cur = read_iceberg(spark, t)
    assert cur.count() == 85
    assert cur.where("k = 10").collect()[0]["v"] == 1010.0

    optimize_iceberg(spark, t)
    assert resolve_snapshot(t).deletes == []
    assert read_iceberg(spark, t).count() == 85
    assert read_iceberg(spark, t, snapshot_id=1).count() == 100


def test_iceberg_merge_on_read_position_deletes(spark, tmp_path):
    """Default MOR DELETE writes a POSITION delete file (spec content=1,
    rows = (file_path, pos) from _metadata.row_index): no data rewrite,
    readers anti-join by position, deletes stack across commits, a
    re-inserted identical key is NOT re-deleted (positional semantics —
    unlike equality deletes), COW ops on the MOR state stay correct,
    OPTIMIZE folds the deletes away, and time travel still works."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, optimize_iceberg, read_iceberg,
        resolve_snapshot, update_iceberg, write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t, partition_by=["p"])

    files_before = {p for p, _ in resolve_snapshot(t).files}
    delete_from_iceberg(spark, t, "k >= 90", mode="merge-on-read")
    snap = resolve_snapshot(t)
    assert {p for p, _ in snap.files} == files_before  # no rewrite
    assert snap.deletes == [] and len(snap.pos_deletes) == 1
    # the delete file itself holds sorted (file_path, pos) rows
    dels = spark.read.parquet(*snap.pos_deletes)
    assert set(dels.columns) == {"file_path", "pos"}
    assert dels.count() == 10
    cur = read_iceberg(spark, t)
    assert cur.count() == 90
    assert cur.where("k >= 90").count() == 0

    # deletes stack
    delete_from_iceberg(spark, t, "k < 5", mode="merge-on-read")
    assert len(resolve_snapshot(t).pos_deletes) == 2
    assert read_iceberg(spark, t).count() == 85

    # positional semantics: appending a row with a previously deleted key
    # does NOT get swallowed by the old delete (new file, new positions)
    re_add = spark.createDataFrame([(90, 0, 90.0)], "k long, p long, v double")
    write_iceberg(spark, re_add, t, mode="append", partition_by=["p"])
    cur = read_iceberg(spark, t)
    assert cur.count() == 86
    assert cur.where("k = 90").count() == 1

    # COW update over the MOR state applies position deletes first
    update_iceberg(spark, t, {"v": "v + 1000"}, "k = 10")
    cur = read_iceberg(spark, t)
    assert cur.count() == 86
    assert cur.where("k = 10").collect()[0]["v"] == 1010.0
    assert cur.where("k = 91").count() == 0  # still deleted post-rewrite

    optimize_iceberg(spark, t)
    snap = resolve_snapshot(t)
    assert snap.pos_deletes == [] and snap.deletes == []
    assert read_iceberg(spark, t).count() == 86
    assert read_iceberg(spark, t, snapshot_id=1).count() == 100


def test_iceberg_vacuum_keeps_live_delete_files(spark, tmp_path):
    """expire_iceberg_snapshots must not orphan-delete MOR delete files
    still referenced by a retained snapshot."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, expire_iceberg_snapshots, read_iceberg,
        write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(50).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t)
    delete_from_iceberg(spark, t, "k >= 40", mode="merge-on-read")
    delete_from_iceberg(spark, t, "k in (0, 1)", mode="merge-on-read",
                        equality_cols=["k"])
    removed = expire_iceberg_snapshots(t, keep_last=1)
    assert removed == []  # everything is referenced by the live snapshot
    assert read_iceberg(spark, t).count() == 38


def test_iceberg_refs_branches_tags_merge(spark, tmp_path):
    """Iceberg refs (spec `refs` map): branch writes are isolated from
    main, tags are immutable read pointers that pin snapshots against
    expiry, fast-forward MERGE BRANCH advances main, divergence is
    rejected, and the SQL surface (CREATE/DROP/MERGE ... IN '<path>',
    AT BRANCH/TAG) drives it all.  Reference: Nessie branch/tag grammar
    (`parserImpls.ftl:943`) over the Iceberg table format."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.iceberg import (
        create_iceberg_ref, expire_iceberg_snapshots, iceberg_history,
        merge_iceberg_branch, read_iceberg, write_iceberg)

    eng = Engine(spark)
    t = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"),
                                F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t)

    eng.sql(f"CREATE TAG v1 IN '{t}'")
    with pytest.raises(ValueError, match="already exists"):
        eng.sql(f"CREATE TAG v1 IN '{t}'")  # tags are immutable
    eng.sql(f"CREATE BRANCH dev IN '{t}'")
    extra = spark.createDataFrame([(100, 1.0)], "k long, v double")
    write_iceberg(spark, extra, t, mode="append", branch="dev")

    # isolation: dev sees 11, main still 10
    assert read_iceberg(spark, t, ref="dev").count() == 11
    assert read_iceberg(spark, t).count() == 10
    assert eng.sql(
        f"select count(*) as c from '{t}' at branch dev"
    ).collect()[0]["c"] == 11
    assert eng.sql(
        f"select count(*) as c from '{t}' at tag 'v1'"
    ).collect()[0]["c"] == 10
    branches = {r["branch_name"] for r in
                eng.sql(f"show branches in '{t}'").collect()}
    assert {"main", "dev"} <= branches

    # tags are read-only
    try:
        write_iceberg(spark, extra, t, mode="append", branch="v1")
        raise AssertionError("expected tag write to fail")
    except ValueError:
        pass

    # fast-forward merge: main advances to dev's head
    eng.sql(f"MERGE BRANCH dev INTO main IN '{t}'")
    assert read_iceberg(spark, t).count() == 11

    # divergence: fork, move main, then merging the stale branch fails
    create_iceberg_ref(t, "dev2", "branch")
    write_iceberg(spark, extra.withColumn("k", F.lit(200)), t,
                  mode="append", branch="dev2")
    write_iceberg(spark, extra.withColumn("k", F.lit(300)), t,
                  mode="append")  # main moves
    try:
        merge_iceberg_branch(t, "dev2")
        raise AssertionError("expected divergence error")
    except ValueError as e:
        assert "diverged" in str(e)

    # SHOW LOGS: one row per snapshot, oldest first
    logs = eng.sql(f"show logs in '{t}'").collect()
    assert [r["snapshot_id"] for r in logs] == [
        h["snapshot_id"] for h in iceberg_history(t)]
    assert len(logs) == 4

    # the v1 tag pins snapshot 1 against expiry
    expire_iceberg_snapshots(t, keep_last=1)
    assert read_iceberg(spark, t, ref="v1").count() == 10
    eng.sql(f"DROP TAG v1 IN '{t}'")
    tags = {r["tag_name"] for r in eng.sql(f"show tags in '{t}'").collect()}
    assert "v1" not in tags
    eng.sql(f"DROP BRANCH dev2 IN '{t}'")
    assert {r["branch_name"] for r in
            eng.sql(f"show branches in '{t}'").collect()} == {"main", "dev"}


def test_rename_column_both_formats(spark, tmp_path):
    """ALTER TABLE ... RENAME COLUMN (copy-on-write rewrite; stated
    deviation from metadata-only rename, which needs field-id/column-
    mapping resolution): data survives under the new name, old name is
    gone, partition columns are protected, SQL statement form works."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta
    from dremio_oss_spark.sources.iceberg import read_iceberg, write_iceberg

    eng = Engine(spark)
    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p"),
        F.col("id").cast("double").alias("v"))

    t = str(tmp_path / "d")
    write_delta(spark, df, t, partition_by=["p"])
    eng.sql(f"ALTER TABLE '{t}' RENAME COLUMN v TO val")
    cur = read_delta(spark, t)
    assert "val" in cur.columns and "v" not in cur.columns
    assert cur.agg(F.sum("val")).collect()[0][0] == sum(range(20))
    import pytest as _pt

    with _pt.raises(ValueError, match="partition column"):
        eng.sql(f"ALTER TABLE '{t}' RENAME COLUMN p TO pp")

    t2 = str(tmp_path / "i")
    write_iceberg(spark, df, t2, partition_by=["p"])
    eng.sql(f"ALTER TABLE '{t2}' RENAME COLUMN v TO val")
    cur = read_iceberg(spark, t2)
    assert "val" in cur.columns and "v" not in cur.columns
    assert cur.agg(F.sum("val")).collect()[0][0] == sum(range(20))
    assert cur.where("p = 1").count() == 10  # partitioning intact


def test_delta_deletion_vectors_merge_on_read(spark, tmp_path):
    """Delta MOR DELETE via deletion vectors (PROTOCOL.md "Deletion
    Vectors", roaring-encoded row indexes): no data rewrite, readers
    anti-join positions, DVs stack and merge per file, survive
    checkpoints and appends, COW ops apply them before rewriting, and
    OPTIMIZE folds them away."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta, optimize_delta, read_delta, resolve_snapshot,
        update_delta, write_delta)

    t = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        F.col("id").cast("double").alias("v"))
    write_delta(spark, df, t, partition_by=["p"])
    files_before = set(resolve_snapshot(spark, t).files)

    delete_from_delta(spark, t, "k >= 90", mode="merge-on-read")
    snap = resolve_snapshot(spark, t)
    assert set(snap.files) == files_before  # no data rewrite
    assert snap.dvs and sum(
        d["cardinality"] for d in snap.dvs.values()) == 10
    cur = read_delta(spark, t)
    assert cur.count() == 90 and cur.where("k >= 90").count() == 0

    # stacking: second DV delete merges positions per file
    delete_from_delta(spark, t, "k < 5", mode="merge-on-read")
    assert read_delta(spark, t).count() == 85

    # time travel: pre-delete version still sees everything
    assert read_delta(spark, t, version=0).count() == 100

    # appended rows are untouched by existing DVs
    extra = spark.createDataFrame([(90, 0, 90.0)], "k long, p long, v double")
    write_delta(spark, extra, t, mode="append")
    cur = read_delta(spark, t)
    assert cur.count() == 86 and cur.where("k = 90").count() == 1

    # COW update applies DVs before rewriting (no resurrection)
    update_delta(spark, t, {"v": "v + 1000"}, "k = 10")
    cur = read_delta(spark, t)
    assert cur.count() == 86
    assert cur.where("k = 10").collect()[0]["v"] == 1010.0
    assert cur.where("k = 91").count() == 0

    # OPTIMIZE compacts the DVs away
    optimize_delta(spark, t)
    snap = resolve_snapshot(spark, t)
    assert not snap.dvs
    assert read_delta(spark, t).count() == 86


def test_delta_dv_distributed_encode_path(spark, tmp_path):
    """The distributed (applyInPandas) bitmap encode — taken when the
    marked set exceeds spark.dremio.dv.driverEncodeMaxRows — produces
    the same DVs as the driver-side fast path: same cardinality, same
    survivors, existing-DV merge included."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta, read_delta, resolve_snapshot, write_delta)

    t = str(tmp_path / "t")
    df = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    write_delta(spark, df, t)
    spark.conf.set("spark.dremio.dv.driverEncodeMaxRows", "0")
    try:
        delete_from_delta(spark, t, "k >= 90", mode="merge-on-read")
        snap = resolve_snapshot(spark, t)
        assert snap.dvs and sum(
            d["cardinality"] for d in snap.dvs.values()) == 10
        # stacking through the distributed path merges existing DVs
        delete_from_delta(spark, t, "k < 5", mode="merge-on-read")
        assert sum(d["cardinality"]
                   for d in resolve_snapshot(spark, t).dvs.values()) == 15
        cur = read_delta(spark, t)
        assert cur.count() == 85
        assert cur.where("k >= 90 or k < 5").count() == 0
    finally:
        spark.conf.unset("spark.dremio.dv.driverEncodeMaxRows")


def test_medium_delete_set_broadcast_decode(spark, tmp_path):
    """Medium delete sets (above the inline-literal cap, under
    `broadcastDecodeMaxRows`) are decoded on the driver into one
    Arrow-backed frame and applied via a broadcast anti-join: no
    Python-worker decode stage, no scan-side exchange — and the result
    is identical to both the inline and the distributed paths.  Covers
    Delta DVs and Iceberg position deletes."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources import delta as D
    from dremio_oss_spark.sources import iceberg as I

    def plan_of(df):
        df.collect()  # finalize adaptive plan
        return df._jdf.queryExecution().executedPlan().toString()

    def rows_of(df):
        return sorted(tuple(r) for r in df.collect())

    df = spark.range(200).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))

    td = str(tmp_path / "t_delta")
    D.write_delta(spark, df, td)
    D.delete_from_delta(spark, td, "k % 10 = 3", mode="merge-on-read")
    ti = str(tmp_path / "t_ice")
    I.write_iceberg(spark, df, ti)
    I.delete_from_iceberg(spark, ti, "k % 10 = 3", mode="merge-on-read")

    for reader, inline_conf, med_conf in (
        (lambda: D.read_delta(spark, td),
         "spark.dremio.dv.inlineFilterMaxRows",
         "spark.dremio.dv.broadcastDecodeMaxRows"),
        (lambda: I.read_iceberg(spark, ti),
         "spark.dremio.posdelete.inlineFilterMaxRows",
         "spark.dremio.posdelete.broadcastDecodeMaxRows"),
    ):
        try:
            # route the 20-row delete set down each of the three paths
            spark.conf.set(inline_conf, "2")          # medium path
            med = reader()
            med_plan = plan_of(med)
            assert ("BroadcastHashJoin" in med_plan
                    and "LeftAnti" in med_plan), med_plan
            assert "InPandas" not in med_plan, med_plan
            spark.conf.set(med_conf, "0")             # distributed path
            dist = reader()
            dist_plan = plan_of(dist)
            assert "LeftAnti" in dist_plan
            spark.conf.unset(inline_conf)
            spark.conf.unset(med_conf)                # inline path
            inl = reader()
            assert rows_of(med) == rows_of(dist) == rows_of(inl)
            assert len(rows_of(med)) == 180
        finally:
            spark.conf.unset(inline_conf)
            spark.conf.unset(med_conf)


def test_delta_dv_survives_checkpoint(spark, tmp_path):
    """DV descriptors ride through parquet checkpoints (add actions are
    re-encoded there) — a post-checkpoint read must still hide the
    deleted rows."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        checkpoint_delta, delete_from_delta, read_delta, write_delta)

    t = str(tmp_path / "t")
    write_delta(spark, spark.range(50).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")), t)
    delete_from_delta(spark, t, "k >= 40", mode="merge-on-read")
    checkpoint_delta(spark, t)
    assert read_delta(spark, t).count() == 40


def test_iceberg_partition_spec_evolution(spark, tmp_path):
    """Partition evolution (metadata-only): re-bucket bucket(4,k) ->
    bucket(8,k); old files keep their spec id and are never
    transform-pruned under the new spec's math (sound), new files prune
    under the new spec, reads stay correct across the mix, and identity
    fields cannot be changed by evolution."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        alter_iceberg_partition_spec, plan_iceberg_scan, read_iceberg,
        resolve_snapshot, write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(64).select(F.col("id").alias("k"),
                                F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t, partition_by=["bucket(4, k)"])
    n_old = len(resolve_snapshot(t).files)
    assert n_old == 4
    # pre-evolution: a point lookup prunes to one bucket
    _, total, scanned = plan_iceberg_scan(spark, t, {"k": 7})
    assert (total, scanned) == (4, 1)

    alter_iceberg_partition_spec(t, ["bucket(8, k)"])
    extra = spark.range(64, 128).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    write_iceberg(spark, extra, t, mode="append")
    snap = resolve_snapshot(t)
    assert snap.default_spec_id == 1
    assert len(snap.files) == 4 + 8

    # reads see everything
    assert read_iceberg(spark, t).count() == 128

    # new-spec point lookup outside the old files' key range: the old
    # files fall to min/max STATS pruning (sound), and exactly 1 of the
    # 8 new files survives its bucket[8] transform prune
    df2, total, scanned = plan_iceberg_scan(spark, t, {"k": 100})
    assert total == 12 and scanned == 1
    assert df2.where("k = 100").count() == 1

    # lookup INSIDE the old range: stats can't prune the old file that
    # holds k=7 and the planner must NOT apply bucket[8] math to
    # bucket[4]-era files — the row is found
    df3, _, scanned3 = plan_iceberg_scan(spark, t, {"k": 7})
    assert df3.where("k = 7").count() == 1
    assert scanned3 >= 2  # ≥1 old file kept + the new-spec bucket file

    # identity fields are frozen
    import pytest as _pt

    with _pt.raises(ValueError, match="identity"):
        alter_iceberg_partition_spec(t, ["k"])


def test_delta_dv_rollback_restores_pre_delete_state(spark, tmp_path):
    """ROLLBACK to a pre-deletion-vector version must clear the DV on
    files common to both versions (the re-add-on-dv-change path)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta, read_delta, resolve_snapshot, rollback_delta,
        write_delta)

    t = str(tmp_path / "t")
    write_delta(spark, spark.range(30).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")), t)
    delete_from_delta(spark, t, "k >= 20", mode="merge-on-read")
    assert read_delta(spark, t).count() == 20
    rollback_delta(spark, t, 0)
    assert not resolve_snapshot(spark, t).dvs
    assert read_delta(spark, t).count() == 30
    # and rolling forward to the DV version works too
    rollback_delta(spark, t, 1)
    assert read_delta(spark, t).count() == 20


def test_iceberg_rollback_claims_its_snapshot(spark, tmp_path,
                                              monkeypatch):
    """A commit that lands while ROLLBACK writes its snapshot wins the
    version claim: the rollback raises ConcurrentWriteError instead of
    overwriting the metadata file, and the appended row survives."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources import iceberg
    from dremio_oss_spark.sources.delta import ConcurrentWriteError

    t = str(tmp_path / "t")
    rows = spark.range(10).select(F.col("id").alias("k"))
    first = iceberg.write_iceberg(spark, rows, t)
    iceberg.write_iceberg(spark, rows, t)  # overwrite: snapshot 2
    real, raced = iceberg._snapshot_ts_ms, []

    def racing(meta):
        if not raced:  # once: the append's own commit passes through
            raced.append(None)
            raced[0] = iceberg.write_iceberg(
                spark, spark.range(100, 101).select(
                    F.col("id").alias("k")), t, mode="append")
        return real(meta)

    monkeypatch.setattr(iceberg, "_snapshot_ts_ms", racing)
    with pytest.raises(ConcurrentWriteError):
        iceberg.rollback_iceberg(t, first)
    monkeypatch.undo()
    assert raced == [3]
    assert [h["operation"] for h in iceberg.iceberg_history(t)][-1] \
        == "append"
    assert iceberg.read_iceberg(spark, t).where("k = 100").count() == 1


def test_vacuum_reclaims_delta_deletion_vector_files(spark, tmp_path):
    """Deletion-vector files are delete marks the sweep owns: REMOVE
    ORPHAN FILES deletes a .bin no version references (a DV commit that
    lost the version race) and keeps the ones history reads; after
    OPTIMIZE folds the DVs, VACUUM reclaims them."""
    import glob
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta

    eng = Engine(spark)
    t = str(tmp_path / "t")
    write_delta(spark, spark.range(40).select(
        F.col("id").alias("k")).coalesce(1), t)
    eng.sql(f"ALTER TABLE '{t}' SET TBLPROPERTIES "
            "('delta.enableDeletionVectors' = 'true')")
    eng.sql(f"DELETE FROM '{t}' WHERE k < 5")
    eng.sql(f"DELETE FROM '{t}' WHERE k >= 35")
    dvs = sorted(glob.glob(os.path.join(t, "*.bin")))
    assert len(dvs) == 2
    lost = os.path.join(t, "dv-00099-0badf00d.bin")
    with open(lost, "wb") as f:
        f.write(b"\x01")
    eng.sql(f"VACUUM TABLE '{t}' REMOVE ORPHAN FILES")
    assert sorted(glob.glob(os.path.join(t, "*.bin"))) == dvs
    eng.sql(f"OPTIMIZE TABLE '{t}'")
    eng.sql(f"VACUUM TABLE '{t}'")
    assert glob.glob(os.path.join(t, "*.bin")) == []
    got = sorted(r["k"] for r in read_delta(spark, t).collect())
    assert got == list(range(5, 35))


def test_sorted_layout_and_partition_scoped_optimize(spark, tmp_path):
    """sort_by writes (LOCALSORT layout) give each file a disjoint key
    range so stats prune point lookups to ONE file; OPTIMIZE ... FOR
    PARTITIONS compacts only the matching slice and carries MOR deletes
    for the untouched remainder."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (
        plan_delta_scan, resolve_snapshot as d_snap, write_delta)
    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, optimize_iceberg, read_iceberg,
        resolve_snapshot as i_snap, write_iceberg)

    # sorted layout: 8 files, disjoint k ranges, point lookup scans 1
    t = str(tmp_path / "d")
    df = spark.range(8000).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        write_delta(spark, df, t, sort_by=["k"])
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    _, total, scanned = plan_delta_scan(spark, t, {"k": 4321})
    assert total >= 4 and scanned == 1

    # partition-scoped optimize on iceberg: only partition p=0 compacts;
    # a MOR delete over p=1 stays live for the untouched files
    t2 = str(tmp_path / "i")
    df2 = spark.range(60).select(
        (F.col("id") % 3).alias("p"), F.col("id").alias("k"),
        F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df2, t2, partition_by=["p"])
    write_iceberg(spark, df2.where("p = 0"), t2, mode="append")  # extra files
    delete_from_iceberg(spark, t2, "p = 1 and k < 10", mode="merge-on-read")
    n_before = len(i_snap(t2).files)
    eng = Engine(spark)
    eng.sql(f"OPTIMIZE TABLE '{t2}' FOR PARTITIONS p = 0")
    snap = i_snap(t2)
    assert len(snap.files) < n_before  # p=0 slice compacted
    assert snap.pos_deletes  # untouched partition's deletes survive
    cur = read_iceberg(spark, t2)
    assert cur.where("p = 0").count() == 40
    assert cur.where("p = 1 and k < 10").count() == 0  # still deleted
    assert cur.count() == 80 - 3  # ids 1,4,7 hit p=1 AND k<10


def test_delta_append_schema_enforcement_and_merge(spark, tmp_path):
    """Appends enforce the table schema (extra columns and retyped
    columns are rejected) unless merge_schema=True, which widens the
    table; old files read the new column as null — delta mergeSchema
    semantics."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import read_delta, write_delta

    t = str(tmp_path / "t")
    write_delta(spark, spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")), t)

    import pytest as _pt

    extra = spark.createDataFrame([(50, 1.0, "x")],
                                  "k long, v double, tag string")
    with _pt.raises(ValueError, match="merge_schema"):
        write_delta(spark, extra, t, mode="append")
    retyped = spark.createDataFrame([(51, 2)], "k long, v int")
    with _pt.raises(ValueError, match="type"):
        write_delta(spark, retyped, t, mode="append")

    write_delta(spark, extra, t, mode="append", merge_schema=True)
    cur = read_delta(spark, t)
    assert set(cur.columns) == {"k", "v", "tag"}
    assert cur.count() == 11
    assert cur.where("tag is null").count() == 10  # old rows null-fill
    assert cur.where("tag = 'x'").count() == 1


def test_iceberg_append_schema_enforcement(spark, tmp_path):
    """Iceberg appends enforce the table schema; evolution goes through
    ALTER TABLE ADD COLUMNS, after which the append lands and old files
    null-fill."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        alter_iceberg, read_iceberg, write_iceberg)

    t = str(tmp_path / "t")
    write_iceberg(spark, spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")), t)

    import pytest as _pt

    extra = spark.createDataFrame([(50, 1.0, "x")],
                                  "k long, v double, tag string")
    with _pt.raises(ValueError, match="ADD COLUMNS"):
        write_iceberg(spark, extra, t, mode="append")
    with _pt.raises(ValueError, match="type"):
        write_iceberg(spark, spark.createDataFrame([(51, 2)],
                      "k long, v int"), t, mode="append")

    alter_iceberg(t, add={"tag": "string"})
    write_iceberg(spark, extra, t, mode="append")
    cur = read_iceberg(spark, t)
    assert cur.count() == 11
    assert cur.where("tag is null").count() == 10
    assert cur.where("tag = 'x'").count() == 1


def test_use_version_session_context(spark, tmp_path):
    """USE BRANCH/TAG (versionSupport.ftl SqlUseVersion): subsequent
    SELECTs without AT resolve at the session ref; the IN form pins one
    table and errors on unknown refs; USE BRANCH main restores; the
    global form skips tables that don't carry the ref."""
    import pytest
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.iceberg import write_iceberg

    eng = Engine(spark)
    t = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_iceberg(spark, df, t)
    eng.sql(f"CREATE BRANCH dev IN '{t}'")
    write_iceberg(spark, spark.createDataFrame([(100,)], "k long"), t,
                  mode="append", branch="dev")

    q = f"select count(*) as c from '{t}'"
    assert eng.sql(q).first()["c"] == 10
    eng.sql(f"USE BRANCH dev IN '{t}'")
    assert eng.sql(q).first()["c"] == 11
    # explicit AT wins over the session context
    assert eng.sql(
        f"select count(*) as c from '{t}' at snapshot '1'"
    ).first()["c"] == 10
    eng.sql(f"USE BRANCH main IN '{t}'")
    assert eng.sql(q).first()["c"] == 10
    with pytest.raises(FileNotFoundError):
        eng.sql(f"USE BRANCH nope IN '{t}'")

    # global form: applies where the ref exists, skips where it doesn't
    t2 = str(tmp_path / "t2")
    write_iceberg(spark, df, t2)  # no dev branch here
    eng.sql("USE BRANCH dev")
    assert eng.sql(q).first()["c"] == 11
    assert eng.sql(f"select count(*) as c from '{t2}'").first()["c"] == 10
    eng.sql("USE BRANCH main")
    assert eng.sql(q).first()["c"] == 10


def test_optimistic_concurrency_commits(spark, tmp_path):
    """Racing writers: concurrent Delta blind appends BOTH land (the
    loser rebases onto the next version); state-reading commits
    (overwrite, Iceberg snapshots) fail with ConcurrentWriteError when
    they lose the claim on their target version."""
    import threading

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        ConcurrentWriteError,
        read_delta,
        resolve_snapshot,
        write_delta,
    )
    from dremio_oss_spark.sources import iceberg as I

    t = str(tmp_path / "d")
    write_delta(spark, spark.range(10).select(F.col("id").alias("k")), t)

    # stage two appends, then race the log-claim by pre-creating the
    # version both writers would target: the appends must rebase past it
    base_v = resolve_snapshot(spark, t).version
    import os
    blocker = os.path.join(t, "_delta_log", f"{base_v + 1:020d}.json")
    with open(blocker, "w") as fh:
        fh.write('{"commitInfo": {"operation": "NOOP", "timestamp": 1}}\n')
    errs: list[Exception] = []

    def append(n0):
        try:
            write_delta(spark,
                        spark.range(n0, n0 + 5).select(F.col("id").alias("k")),
                        t, mode="append")
        except Exception as ex:  # pragma: no cover
            errs.append(ex)

    th = [threading.Thread(target=append, args=(100,)),
          threading.Thread(target=append, args=(200,))]
    for x in th:
        x.start()
    for x in th:
        x.join()
    assert not errs
    assert read_delta(spark, t).count() == 20  # 10 + 5 + 5, none lost

    # a state-reading commit (carries removes) must error when its
    # target version was claimed first — _commit is the claim point
    from dremio_oss_spark.sources.delta import _commit

    nxt = resolve_snapshot(spark, t).version + 1
    with open(os.path.join(t, "_delta_log", f"{nxt:020d}.json"), "w") as fh:
        fh.write('{"commitInfo": {"operation": "NOOP", "timestamp": 1}}\n')
    with pytest.raises(ConcurrentWriteError):
        _commit(t, nxt, [{"remove": {"path": "x", "dataChange": True}}])

    # iceberg: claim the next metadata version -> loser errors
    it = str(tmp_path / "i")
    I.write_iceberg(spark, spark.range(5).select(F.col("id").alias("k")), it)
    import json as J
    md = os.path.join(it, "metadata")
    cur = max(int(f[1:].split(".")[0]) for f in os.listdir(md)
              if f.startswith("v") and f.endswith(".metadata.json"))
    with open(os.path.join(md, f"v{cur + 1}.metadata.json"), "w") as fh:
        J.dump({}, fh)
    with pytest.raises(ConcurrentWriteError):
        I.write_iceberg(spark, spark.range(2).select(F.col("id").alias("k")),
                        it, mode="append")


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_optimize_zorder_multidimensional_skipping(spark, tmp_path, fmt):
    """OPTIMIZE ZORDER BY (x, y): after the rewrite, point lookups on
    EITHER column stats-prune most files; a linear sort on x only serves
    x. Row set identical before/after (dataChange=false)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources import delta, iceberg

    write, read, optimize, plan = {
        "delta": (delta.write_delta, delta.read_delta,
                  delta.optimize_delta, delta.plan_delta_scan),
        "iceberg": (iceberg.write_iceberg, iceberg.read_iceberg,
                    iceberg.optimize_iceberg, iceberg.plan_iceberg_scan),
    }[fmt]

    # 64x64 independent grid: worst case for a single-column sort
    grid = (spark.range(64).select(F.col("id").alias("x"))
            .crossJoin(spark.range(64).select(F.col("id").alias("y")))
            .withColumn("v", F.col("x") * 100 + F.col("y")))

    zt = str(tmp_path / "z")
    write(spark, grid, zt)
    before = {(r["x"], r["y"]) for r in read(spark, zt).collect()}
    optimize(spark, zt, zorder_by=["x", "y"], zorder_files=16)
    after = {(r["x"], r["y"]) for r in read(spark, zt).collect()}
    assert after == before  # dataChange=false: identical rows

    _, total_x, scanned_x = plan(spark, zt, {"x": 7})
    _, total_y, scanned_y = plan(spark, zt, {"y": 7})
    assert total_x == 16
    # a z-order over two 16-file dims should prune ~3/4 on each axis
    assert scanned_x <= total_x // 2
    assert scanned_y <= total_y // 2

    # contrast: linear sort layout serves x but not y
    lt = str(tmp_path / "lin")
    write(spark, grid, lt, sort_by=["x"])
    _, lt_total, lt_x = plan(spark, lt, {"x": 7})
    _, _, lt_y = plan(spark, lt, {"y": 7})
    assert lt_x <= lt_total // 2      # leading column prunes
    assert lt_y == lt_total           # non-leading column cannot


def test_iceberg_sort_order_metadata_recorded(spark, tmp_path):
    """write_iceberg(sort_by=...) records the spec's sort-orders entry
    (order 0 = unsorted sentinel, order 1 = the declared LOCALSORT) and
    sets default-sort-order-id; unsorted tables keep order 0."""
    import json
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import write_iceberg

    df = spark.range(100).select(F.col("id").alias("k"),
                                 (F.col("id") % 7).alias("g"))
    t1 = str(tmp_path / "sorted")
    write_iceberg(spark, df, t1, sort_by=["k"])
    md = os.path.join(t1, "metadata")
    v = int(open(os.path.join(md, "version-hint.text")).read())
    meta = json.load(open(os.path.join(md, f"v{v}.metadata.json")))
    assert meta["default-sort-order-id"] == 1
    order = next(o for o in meta["sort-orders"] if o["order-id"] == 1)
    assert [f["transform"] for f in order["fields"]] == ["identity"]

    t2 = str(tmp_path / "plain")
    write_iceberg(spark, df, t2)
    md2 = os.path.join(t2, "metadata")
    v2 = int(open(os.path.join(md2, "version-hint.text")).read())
    meta2 = json.load(open(os.path.join(md2, f"v{v2}.metadata.json")))
    assert meta2["default-sort-order-id"] == 0


def test_delta_change_data_feed(spark, tmp_path):
    """Change Data Feed (PROTOCOL.md change data files): DML on a
    CDF-enabled table emits cdc files with delete / update pre+post /
    insert rows, in copy-on-write and merge-on-read alike; appends
    derive as inserts; the table_changes TVF reads a version range;
    pre-CDF rewrites in range error."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (
        delete_from_delta,
        merge_into_delta,
        read_delta_cdf,
        update_delta,
        write_delta,
    )

    eng = Engine(spark)
    for mode in ("copy-on-write", "merge-on-read"):
        t = str(tmp_path / mode)
        write_delta(spark,
                    spark.range(10).select(F.col("id").alias("k"),
                                           (F.col("id") * 1.0).alias("v")),
                    t, enable_cdf=True)
        write_delta(spark, spark.createDataFrame([(100, 1.0)],
                                                 "k long, v double"),
                    t, mode="append")
        delete_from_delta(spark, t, "k >= 8 and k < 100", mode=mode)
        update_delta(spark, t, {"v": "v + 0.5"}, "k < 2", mode=mode)
        merge_into_delta(
            spark, t,
            spark.createDataFrame([(0, 9.9), (500, 5.0)],
                                  "k long, v double"),
            on=["k"], mode=mode)

        rows = read_delta_cdf(spark, t, 1).collect()
        by = {}
        for r in rows:
            by.setdefault((r["_commit_version"], r["_change_type"]),
                          set()).add(r["k"])
        assert by[(1, "insert")] == {100}, mode
        assert by[(2, "delete")] == {8, 9}, mode
        assert by[(3, "update_preimage")] == {0, 1}, mode
        assert by[(3, "update_postimage")] == {0, 1}, mode
        assert by[(4, "insert")] == {500}, mode
        assert by[(4, "update_preimage")] == {0}, mode
        # post image carries the merged value
        post = [r for r in rows if r["_commit_version"] == 4
                and r["_change_type"] == "update_postimage"]
        assert post[0]["v"] == 9.9, mode

        # range narrowing via the TVF through engine SQL
        n = eng.sql(
            f"select count(*) as n from table(table_changes('{t}', 2, 2))"
        ).first()["n"]
        assert n == 2, mode  # the two deletes

    # a pre-CDF table errors
    t2 = str(tmp_path / "nocdf")
    write_delta(spark, spark.range(3).toDF("k"), t2)
    delete_from_delta(spark, t2, "k = 1")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="enableChangeDataFeed"):
        read_delta_cdf(spark, t2, 0)


def test_iceberg_changelog_between_snapshots(spark, tmp_path):
    """read_iceberg_changes: appends emit inserts; MOR positional and
    equality deletes emit delete rows with recovered values; COW
    rewrites emit removed-file deletes + added-file inserts."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg,
        read_iceberg_changes,
        resolve_snapshot,
        write_iceberg,
    )

    t = str(tmp_path / "t")
    write_iceberg(spark,
                  spark.range(10).select(F.col("id").alias("k"),
                                         (F.col("id") * 1.0).alias("v")),
                  t)
    s0 = resolve_snapshot(t).snapshot_id

    write_iceberg(spark, spark.createDataFrame([(100, 1.0)],
                                               "k long, v double"),
                  t, mode="append")
    s1 = resolve_snapshot(t).snapshot_id
    ch1 = read_iceberg_changes(spark, t, s0, s1).collect()
    assert {r["_change_type"] for r in ch1} == {"insert"}
    assert {r["k"] for r in ch1} == {100}

    delete_from_iceberg(spark, t, "k >= 8 and k < 100",
                        mode="merge-on-read")
    s2 = resolve_snapshot(t).snapshot_id
    ch2 = read_iceberg_changes(spark, t, s1, s2).collect()
    dels = {r["k"] for r in ch2 if r["_change_type"] == "delete"}
    assert dels == {8, 9}

    # COW delete rewrites hit files: removed rows show as deletes and
    # surviving rewritten rows appear on both sides (carryover contract)
    delete_from_iceberg(spark, t, "k = 0")
    s3 = resolve_snapshot(t).snapshot_id
    ch3 = read_iceberg_changes(spark, t, s2, s3).collect()
    deleted = {r["k"] for r in ch3 if r["_change_type"] == "delete"}
    inserted = {r["k"] for r in ch3 if r["_change_type"] == "insert"}
    assert 0 in deleted
    assert 0 not in inserted  # the dropped row never reappears


def test_delta_protocol_feature_flags(spark, tmp_path):
    """PROTOCOL.md versions: CDF tables declare writer v4; the first
    deletion vector bumps to reader 3 / writer 7 with the
    deletionVectors feature lists."""
    import json
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import delete_from_delta, write_delta

    def protocols(t):
        out = []
        log = os.path.join(t, "_delta_log")
        for fn in sorted(os.listdir(log)):
            if fn.endswith(".json"):
                for ln in open(os.path.join(log, fn)):
                    a = json.loads(ln) if ln.strip() else {}
                    if a.get("protocol"):
                        out.append(a["protocol"])
        return out

    t = str(tmp_path / "cdf")
    write_delta(spark, spark.range(5).toDF("k"), t, enable_cdf=True)
    assert protocols(t)[0]["minWriterVersion"] == 4

    t2 = str(tmp_path / "dv")
    write_delta(spark, spark.range(10).select(F.col("id").alias("k")), t2)
    assert protocols(t2)[0]["minWriterVersion"] == 2
    delete_from_delta(spark, t2, "k < 2", mode="merge-on-read")
    last = protocols(t2)[-1]
    assert last["minReaderVersion"] == 3
    assert "deletionVectors" in last["readerFeatures"]
    # a second DV commit does not restate the protocol
    delete_from_delta(spark, t2, "k = 5", mode="merge-on-read")
    assert len(protocols(t2)) == 2


def test_vacuum_preserves_change_feed(spark, tmp_path):
    """VACUUM removes unreferenced data files but never the change
    feed: cdc files are CDF history, not live-set members."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta,
        read_delta_cdf,
        vacuum_delta,
        write_delta,
    )

    t = str(tmp_path / "t")
    write_delta(spark, spark.range(10).select(F.col("id").alias("k")), t,
                enable_cdf=True)
    delete_from_delta(spark, t, "k >= 8")  # COW rewrite + cdc file
    removed = vacuum_delta(spark, t)
    assert removed  # the rewritten originals went away
    assert not any("_change_data" in r for r in removed)
    # the feed still reads after vacuum
    assert {r["k"] for r in read_delta_cdf(spark, t, 1).collect()} == {8, 9}


def test_delta_dv_delete_emits_cdc_on_cdf_table(spark, tmp_path):
    """A merge-on-read DELETE on a CDF-enabled table must stage the
    deleted rows as cdc files (delta-spark does) so the change feed
    stays readable over that commit, and its protocol bump to (3,7)
    must keep the changeDataFeed writer feature."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta, read_delta, read_delta_cdf, resolve_snapshot,
        write_delta)

    t = str(tmp_path / "t")
    write_delta(spark, spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") * 2.0).alias("v")), t,
        enable_cdf=True)
    v = delete_from_delta(spark, t, "k >= 15", mode="merge-on-read")
    assert read_delta(spark, t).count() == 15

    ch = read_delta_cdf(spark, t, v, v)
    got = {(r["k"], r["_change_type"]) for r in ch.collect()}
    assert got == {(k, "delete") for k in range(15, 20)}

    proto = resolve_snapshot(spark, t).protocol
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["writerFeatures"]
    assert "changeDataFeed" in proto["writerFeatures"]

    # the cdc action is in the same commit as the DV re-add
    with open(os.path.join(t, "_delta_log", f"{v:020d}.json")) as f:
        acts = [_json.loads(ln) for ln in f if ln.strip()]
    assert any(a.get("cdc") for a in acts)


def test_delta_checkpoint_preserves_protocol(spark, tmp_path):
    """checkpoint_delta must re-emit the table's actual protocol, not a
    hardcoded 1/2 floor — otherwise the first checkpoint downgrades CDF
    and deletion-vector feature declarations while its add actions still
    carry DV descriptors."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        checkpoint_delta, delete_from_delta, read_delta, resolve_snapshot,
        write_delta)

    t = str(tmp_path / "t")
    write_delta(spark, spark.range(30).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")), t,
        enable_cdf=True)
    delete_from_delta(spark, t, "k >= 25", mode="merge-on-read")
    checkpoint_delta(spark, t)

    # post-checkpoint replay starts FROM the checkpoint: the protocol it
    # resolves is whatever the checkpoint recorded
    snap = resolve_snapshot(spark, t)
    assert snap.protocol["minReaderVersion"] == 3
    assert snap.protocol["minWriterVersion"] == 7
    assert "deletionVectors" in snap.protocol["readerFeatures"]
    assert "changeDataFeed" in snap.protocol["writerFeatures"]
    assert read_delta(spark, t).count() == 25  # DVs still applied

    # plain CDF table (no DVs): writer v4 survives the checkpoint
    t2 = str(tmp_path / "t2")
    write_delta(spark, spark.range(5).toDF("k"), t2, enable_cdf=True)
    checkpoint_delta(spark, t2)
    assert resolve_snapshot(spark, t2).protocol["minWriterVersion"] == 4


def test_delta_append_race_metadata_change_raises(spark, tmp_path):
    """A blind append that loses its commit race must inspect the
    winning commit: if it restated metaData or protocol the append's
    staged files may carry a stale schema — raise instead of rebasing.
    A race against a plain add commit still rebases."""
    import json as _json
    import os

    import pytest
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        ConcurrentWriteError, _commit, write_delta)

    t = str(tmp_path / "t")
    write_delta(spark, spark.range(10).select(F.col("id").alias("k")), t)
    log = os.path.join(t, "_delta_log")

    # winner at v1 restates metaData (schema-changing overwrite)
    with open(os.path.join(log, f"{1:020d}.json"), "w") as f:
        f.write(_json.dumps({"metaData": {"schemaString": "{}"}}) + "\n")
    blind = [{"add": {"path": "x.parquet", "partitionValues": {},
                      "dataChange": True}},
             {"commitInfo": {"operation": "WRITE", "timestamp": 0}}]
    with pytest.raises(ConcurrentWriteError, match="metadata"):
        _commit(t, 1, blind)

    # plain-add winner: the blind append rebases past it
    t2 = str(tmp_path / "t2")
    write_delta(spark, spark.range(10).select(F.col("id").alias("k")), t2)
    log2 = os.path.join(t2, "_delta_log")
    with open(os.path.join(log2, f"{1:020d}.json"), "w") as f:
        f.write(_json.dumps({"add": {"path": "w.parquet",
                                     "partitionValues": {},
                                     "dataChange": True}}) + "\n")
    assert _commit(t2, 1, blind) == 2


def test_delta_lost_race_cleans_staged_cdc(spark, tmp_path):
    """A transaction that staged cdc files and then loses its commit
    race must delete them — orphaned change files would be served by
    the CDF tail as never-committed changes."""
    import json as _json
    import os

    import pytest
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        ConcurrentWriteError, _commit_with_cdc_cleanup, write_delta)

    t = str(tmp_path / "t")
    write_delta(spark, spark.range(10).select(F.col("id").alias("k")), t,
                enable_cdf=True)
    # stage a fake cdc file the way a losing COW DELETE would have
    os.makedirs(os.path.join(t, "_change_data"), exist_ok=True)
    cdc_rel = os.path.join("_change_data", "cdc-00000000000000000001-0.parquet")
    with open(os.path.join(t, cdc_rel), "wb") as f:
        f.write(b"stub")
    # occupy v1 so the (non-blind: carries a remove) commit loses
    with open(os.path.join(t, "_delta_log", f"{1:020d}.json"), "w") as f:
        f.write(_json.dumps({"commitInfo": {"operation": "WRITE"}}) + "\n")
    actions = [
        {"commitInfo": {"operation": "DELETE", "timestamp": 0}},
        {"remove": {"path": "gone.parquet", "deletionTimestamp": 1,
                    "dataChange": True}},
        {"cdc": {"path": cdc_rel, "partitionValues": {}, "size": 4,
                 "dataChange": False}},
    ]
    with pytest.raises(ConcurrentWriteError):
        _commit_with_cdc_cleanup(t, 1, actions)
    assert not os.path.exists(os.path.join(t, cdc_rel))


def test_distributed_lake_metadata_matches_python_path(spark, tmp_path):
    """The distributed metadata planners (Spark log replay / parallel
    manifest scan) must produce EXACTLY the live sets and pruning
    survivors of the pure-Python resolvers — same replay semantics
    including overwrites, DV re-adds, and checkpoints."""
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        checkpoint_delta, delete_from_delta, plan_delta_scan,
        resolve_snapshot, write_delta)
    from dremio_oss_spark.sources.iceberg import (
        resolve_snapshot as ice_resolve, write_iceberg)
    from dremio_oss_spark.sources.lake_metadata import (
        delta_live_files_df, delta_plan_files_distributed,
        iceberg_live_files_df)

    t = str(tmp_path / "d")
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"),
        (F.col("id") * 1.0).alias("v"))
    write_delta(spark, df, t, partition_by=["p"])
    write_delta(spark, df.where("k >= 100"), t, mode="append")  # no-op add
    checkpoint_delta(spark, t)
    write_delta(spark, df.where("k < 50"), t, mode="overwrite",
                partition_by=["p"])
    delete_from_delta(spark, t, "k < 5", mode="merge-on-read")  # DV re-add

    snap = resolve_snapshot(spark, t)
    py_live = set(snap.files)
    dist = delta_live_files_df(spark, t)
    dist_live = {r["path"] for r in dist.collect()}
    assert dist_live == py_live
    # DV descriptors survive the distributed replay
    dist_dvs = {r["path"] for r in dist.where("dv is not null").collect()}
    assert dist_dvs == set(snap.dvs)

    # pruning parity: partition equality + stats bounds
    for eq in ({"p": 2}, {"k": 30}, {"p": 1, "k": 30}, {"k": 10_000}):
        _, total, kept = plan_delta_scan(spark, t, eq)
        dist_kept = delta_plan_files_distributed(spark, t, eq).count()
        assert dist_kept == kept, (eq, dist_kept, kept)

    # Iceberg: parallel manifest scan equals the Python resolver
    it = str(tmp_path / "i")
    write_iceberg(spark, df, it, partition_by=["p"])
    write_iceberg(spark, df.where("k < 20"), it, mode="append")
    isnap = ice_resolve(it)
    py_files = {os.path.realpath(p) for p, _ in isnap.files}
    dist_files = {
        os.path.realpath(
            r["file_path"] if os.path.isabs(r["file_path"])
            else os.path.join(it, r["file_path"]))
        for r in iceberg_live_files_df(spark, it).collect()}
    assert dist_files == py_files


def test_vacuum_delta_retain_versions(spark, tmp_path):
    """VACUUM ... RETAIN n keeps files referenced by the last n
    versions, so time travel inside the retention window survives."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        read_delta, resolve_snapshot, vacuum_delta, write_delta)

    t = str(tmp_path / "t")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_delta(spark, df, t)                          # v0
    write_delta(spark, df.where("k < 5"), t, mode="overwrite")   # v1
    write_delta(spark, df.where("k < 2"), t, mode="overwrite")   # v2

    removed = vacuum_delta(spark, t, keep_last=2)
    # v1's files survive (retained), v0's are gone
    assert removed
    assert read_delta(spark, t).count() == 2
    v1 = resolve_snapshot(spark, t, 1)
    import os
    assert all(os.path.exists(os.path.join(t, rel)) for rel in v1.files)

    # default: current-version only
    removed2 = vacuum_delta(spark, t)
    assert read_delta(spark, t).count() == 2
    assert not any(
        os.path.exists(os.path.join(t, r)) for r in removed2)


def test_iceberg_distributed_pruning_matches_python(spark, tmp_path):
    """The distributed Iceberg pruning (parallel manifest scan +
    DataFrame filters) keeps exactly the files the Python planner keeps,
    including hidden bucket transforms and spec evolution."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        alter_iceberg_partition_spec, plan_iceberg_scan, write_iceberg)
    from dremio_oss_spark.sources.lake_metadata import (
        iceberg_plan_files_distributed)

    t = str(tmp_path / "i")
    df = spark.range(128).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"),
        (F.col("id") * 1.0).alias("v"))
    write_iceberg(spark, df, t, partition_by=["p", "bucket(4, k)"])
    alter_iceberg_partition_spec(t, ["p", "bucket(8, k)"])
    write_iceberg(spark, df.where("k >= 100"), t, mode="append")

    for eq in ({"p": 2}, {"k": 7}, {"p": 1, "k": 33}, {"k": 110}):
        _, total, kept = plan_iceberg_scan(spark, t, eq)
        dist = iceberg_plan_files_distributed(spark, t, eq).count()
        assert dist == kept, (eq, dist, kept)


def test_distributed_stats_pruning_single_bound_keeps(spark, tmp_path):
    """Parity edge: a file whose stats carry only ONE bound must be
    KEPT (the Python planners prune only when both bounds exist)."""
    import json as _json
    import os

    from dremio_oss_spark.sources.delta import write_delta
    from dremio_oss_spark.sources.lake_metadata import (
        delta_plan_files_distributed)

    t = str(tmp_path / "t")
    from pyspark.sql import functions as F
    write_delta(spark, spark.range(10).select(F.col("id").alias("k")), t)
    # rewrite the log's stats to drop maxValues (single-bound case)
    log = os.path.join(t, "_delta_log", f"{0:020d}.json")
    lines = []
    with open(log) as f:
        for ln in f:
            a = _json.loads(ln)
            if a.get("add") and a["add"].get("stats"):
                st = _json.loads(a["add"]["stats"])
                st.pop("maxValues", None)
                a["add"]["stats"] = _json.dumps(st)
            lines.append(_json.dumps(a))
    with open(log, "w") as f:
        f.write("\n".join(lines) + "\n")

    kept = delta_plan_files_distributed(spark, t, {"k": 10_000}).count()
    live = delta_plan_files_distributed(spark, t, {}).count()
    assert kept == live  # nothing pruned on a single bound


def test_plan_scan_threshold_switches_to_distributed(spark, tmp_path,
                                                     monkeypatch):
    """plan_delta_scan / plan_iceberg_scan (and therefore engine SQL on
    lake paths) switch to the DISTRIBUTED metadata planner above the
    session file-count threshold, with results identical to the Python
    path.  Proof of path: the Python resolvers are monkeypatched to
    explode — above-threshold planning must never call them."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources import delta as d_mod
    from dremio_oss_spark.sources import iceberg as i_mod
    from dremio_oss_spark.sources.delta import (
        _DISTRIBUTED_THRESHOLD_KEY, plan_delta_scan, write_delta)
    from dremio_oss_spark.sources.iceberg import (plan_iceberg_scan,
                                                  write_iceberg)

    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        (F.col("id") * 1.0).alias("v"))
    t = str(tmp_path / "d")
    write_delta(spark, df, t, partition_by=["p"])
    it = str(tmp_path / "i")
    write_iceberg(spark, df, it, partition_by=["p"])

    # baseline: the Python path's answers
    base_d, total_d, kept_d = plan_delta_scan(spark, t, {"p": 1})
    rows_d = sorted((r.k, r.p, r.v) for r in base_d.collect())
    base_i, total_i, kept_i = plan_iceberg_scan(spark, it, {"p": 1})
    rows_i = sorted((r.k, r.p, r.v) for r in base_i.collect())

    def boom(*a, **kw):
        raise AssertionError("driver-side Python resolver called on the "
                             "distributed planning path")

    spark.conf.set(_DISTRIBUTED_THRESHOLD_KEY, "1")
    monkeypatch.setattr(d_mod, "resolve_snapshot", boom)
    monkeypatch.setattr(i_mod, "resolve_snapshot", boom)
    try:
        got_d, gtotal_d, gkept_d = plan_delta_scan(spark, t, {"p": 1})
        assert (gtotal_d, gkept_d) == (total_d, kept_d)
        assert sorted((r.k, r.p, r.v) for r in got_d.collect()) == rows_d
        got_i, gtotal_i, gkept_i = plan_iceberg_scan(spark, it, {"p": 1})
        assert (gtotal_i, gkept_i) == (total_i, kept_i)
        assert sorted((r.k, r.p, r.v) for r in got_i.collect()) == rows_i

        # the engine SQL path rides the same switch (pruning + residual)
        eng = Engine(spark)
        out = eng.sql(f"select k, v from '{t}' where p = 1 and k < 10 "
                      "order by k")
        assert [r.k for r in out.collect()] == [1, 4, 7]
        out_i = eng.sql(f"select count(*) as n from '{it}' where p = 2")
        assert out_i.collect()[0].n == 20
    finally:
        spark.conf.unset(_DISTRIBUTED_THRESHOLD_KEY)


def test_distributed_pruning_type_parity(spark, tmp_path):
    """Review r6 pack: the distributed pruning must replicate the
    Python planners' TYPE semantics — numeric-tolerant string bindings
    ('2' matches pv '2.0'), boolean bindings against hive 'true' dirs,
    and string-column stats whose values happen to parse as numbers
    (lexical bounds must not be compared numerically)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        _DISTRIBUTED_THRESHOLD_KEY, plan_delta_scan, write_delta)

    # double partition column + boolean partition column
    t = str(tmp_path / "d")
    df = spark.range(40).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("double").alias("p"),
        (F.col("id") % 2 == 0).alias("flag"),
        # digit-string column whose LEXICAL stats bounds bracket '2'
        F.when(F.col("id") % 3 == 0, "10")
        .when(F.col("id") % 3 == 1, "2").otherwise("30").alias("s"))
    write_delta(spark, df, t, partition_by=["p", "flag"])

    cases = [{"p": "2"}, {"flag": True}, {"s": "2"}, {"s": 2}]
    base = [plan_delta_scan(spark, t, eq) for eq in cases]
    spark.conf.set(_DISTRIBUTED_THRESHOLD_KEY, "1")
    try:
        for eq, (bdf, btotal, bkept) in zip(cases, base):
            gdf, gtotal, gkept = plan_delta_scan(spark, t, eq)
            assert (gtotal, gkept) == (btotal, bkept), (eq, gkept, bkept)
            assert sorted(r.k for r in gdf.collect()) == \
                sorted(r.k for r in bdf.collect()), eq
        # python path sanity: these bindings DO keep rows
        assert base[0][2] > 0 and base[1][2] > 0 and base[2][2] > 0
    finally:
        spark.conf.unset(_DISTRIBUTED_THRESHOLD_KEY)


def test_alter_rollback_preserve_table_properties(spark, tmp_path):
    """Review r6: ALTER TABLE / ROLLBACK restate metaData and must carry
    table properties forward — dropping them silently disabled CDF."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        alter_delta, delete_from_delta, read_delta_cdf, resolve_snapshot,
        rollback_delta, write_delta)

    t = str(tmp_path / "c")
    write_delta(spark, spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("g")), t,
        enable_cdf=True)
    alter_delta(spark, t, add={"extra": "int"})            # v1
    assert resolve_snapshot(spark, t).config.get(
        "delta.enableChangeDataFeed") == "true"
    delete_from_delta(spark, t, "k >= 15")                 # v2, emits cdc
    ch = read_delta_cdf(spark, t, 2, 2)
    assert ch.where("_change_type = 'delete'").count() == 5
    rollback_delta(spark, t, 1)                            # v3
    assert resolve_snapshot(spark, t).config.get(
        "delta.enableChangeDataFeed") == "true"


def test_distributed_time_travel_version_validation(spark, tmp_path):
    """Review r6: a nonexistent version must error on the distributed
    path exactly like resolve_snapshot, never silently plan the head."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import write_delta
    from dremio_oss_spark.sources.lake_metadata import delta_live_files_df

    t = str(tmp_path / "v")
    write_delta(spark, spark.range(5).select(F.col("id").alias("k")), t)
    with _pytest.raises(FileNotFoundError, match="no Delta version"):
        delta_live_files_df(spark, t, version=99)


def test_iceberg_equality_delete_sequence_numbers(spark, tmp_path):
    """Spec v2 sequence-number semantics for equality deletes: a delete
    with data sequence S applies only to data files with sequence < S,
    so RE-INSERTING a previously deleted key at a later sequence
    SURVIVES — the commit-order behavior real Iceberg mandates (and the
    former documented deviation).  Also: stacked deletes each keep
    their own scope, carried sequences survive unrelated commits, COW
    rewrites escape older deletes (their rows were already filtered),
    and a legacy snapshot (no sequence on a delete) falls back to
    apply-to-all."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        _apply_equality_deletes, _eq_seq_aware, delete_from_iceberg,
        optimize_iceberg, read_iceberg, resolve_snapshot, write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(20).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t)

    delete_from_iceberg(spark, t, "k in (3, 4)", mode="merge-on-read",
                        equality_cols=["k"])
    assert read_iceberg(spark, t).count() == 18

    # re-insert k=3 AFTER the delete: the new file's sequence is higher
    # than the delete's, so the row survives
    re_add = spark.createDataFrame([(3, 333.0)], "k long, v double")
    write_iceberg(spark, re_add, t, mode="append")
    snap = resolve_snapshot(t)
    assert _eq_seq_aware(snap)
    cur = read_iceberg(spark, t)
    assert cur.count() == 19
    assert cur.where("k = 3").collect()[0]["v"] == 333.0
    assert cur.where("k = 4").count() == 0  # original delete still holds

    # a LATER delete of the same key removes the re-inserted row too
    delete_from_iceberg(spark, t, "k = 3", mode="merge-on-read",
                        equality_cols=["k"])
    assert read_iceberg(spark, t).where("k = 3").count() == 0
    assert read_iceberg(spark, t).count() == 18

    # unrelated append carries both deletes' sequences forward verbatim
    seqs_before = dict(resolve_snapshot(t).delete_seq)
    write_iceberg(spark, spark.createDataFrame(
        [(100, 1.0)], "k long, v double"), t, mode="append")
    snap = resolve_snapshot(t)
    assert {p_: s for p_, s in snap.delete_seq.items()
            if p_ in seqs_before} == seqs_before
    assert read_iceberg(spark, t).count() == 19

    # legacy fallback: blank one delete's sequence -> apply-to-all
    legacy = resolve_snapshot(t)
    legacy.delete_seq = {p_: None for p_ in legacy.delete_seq}
    assert not _eq_seq_aware(legacy)
    base = read_iceberg(spark, t)  # seq-aware read: k=100 and 18 others
    from dremio_oss_spark.sources.delta import _scan_with_partition_values
    raw = _scan_with_partition_values(
        spark, t, legacy.schema, legacy.partition_cols,
        {p_: pv for p_, pv in legacy.files})
    legacy_rows = _apply_equality_deletes(spark, raw, legacy)
    # apply-to-all swallows the re-inserted k=3 row the seq-aware read
    # keeps... (it was already re-deleted above, so counts differ by the
    # k=100 re-add only if sequences mattered for no current delete);
    # assert the legacy path still executes and deletes every keyed row
    assert legacy_rows.where("k in (3, 4)").count() == 0

    optimize_iceberg(spark, t)
    snap = resolve_snapshot(t)
    assert snap.deletes == []
    assert read_iceberg(spark, t).count() == 19


def test_delta_merge_on_read_update_dv(spark, tmp_path):
    """Delta MOR UPDATE (delta-spark's deletion-vector update): matching
    rows are DV-marked dead in their original files and re-appended
    with the SET expressions applied — no existing data file rewritten.
    Stacks with MOR DELETE, emits update_preimage/postimage CDC on CDF
    tables, survives time travel, and OPTIMIZE folds everything in."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta, optimize_delta, read_delta, read_delta_cdf,
        resolve_snapshot, update_delta, write_delta)

    t = str(tmp_path / "t")
    df = spark.range(60).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        F.col("id").cast("double").alias("v"))
    write_delta(spark, df, t, partition_by=["p"], enable_cdf=True)
    files_before = set(resolve_snapshot(spark, t).files)

    v_upd = update_delta(spark, t, {"v": "v + 0.5"}, "k < 10",
                         mode="merge-on-read")
    snap = resolve_snapshot(spark, t)
    # original files all still live (DV-marked), plus appended post rows
    assert files_before <= set(snap.files)
    assert len(set(snap.files)) > len(files_before)
    assert snap.dvs and sum(
        d["cardinality"] for d in snap.dvs.values()) == 10
    cur = read_delta(spark, t)
    assert cur.count() == 60
    assert cur.where("k < 10 and v = k + 0.5").count() == 10
    assert cur.where("k >= 10 and v = k").count() == 50

    # CDF emitted pre/post images for the update
    ch = read_delta_cdf(spark, t, v_upd, v_upd)
    pre = ch.where("_change_type = 'update_preimage'")
    post = ch.where("_change_type = 'update_postimage'")
    assert pre.count() == 10 and post.count() == 10
    assert post.where("v = k + 0.5").count() == 10

    # stacks with MOR DELETE over the updated state
    delete_from_delta(spark, t, "k in (0, 20)", mode="merge-on-read")
    cur = read_delta(spark, t)
    assert cur.count() == 58 and cur.where("k in (0, 20)").count() == 0
    # the updated copy of k=0 is gone too (DV on the appended file)
    assert cur.where("v = 0.5").count() == 0

    # time travel: before the update everything was v = k
    assert read_delta(spark, t, version=0).where("v = k").count() == 60

    # second MOR update touches the APPENDED post rows of the first
    update_delta(spark, t, {"v": "v * -1"}, "k = 3",
                 mode="merge-on-read")
    assert read_delta(spark, t).where("k = 3").collect()[0]["v"] == -3.5

    optimize_delta(spark, t)
    snap = resolve_snapshot(spark, t)
    assert not snap.dvs
    cur = read_delta(spark, t)
    assert cur.count() == 58
    assert cur.where("k = 3").collect()[0]["v"] == -3.5


def test_iceberg_merge_on_read_update(spark, tmp_path):
    """Iceberg MOR UPDATE (the reference's
    DmlPositionalMergeOnReadPlanGenerator shape): matching rows are
    position-deleted and their post-image appended as new files — no
    existing data file rewritten.  Composes with prior MOR deletes
    (dead rows are never resurrected as updated copies), with
    sequence-stamped equality deletes (new post rows survive older
    deletes), and OPTIMIZE folds everything in."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, optimize_iceberg, read_iceberg,
        resolve_snapshot, update_iceberg, write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(50).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("p"),
        F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t, partition_by=["p"])
    files_before = {p for p, _ in resolve_snapshot(t).files}

    # prior MOR deletes of both styles
    delete_from_iceberg(spark, t, "k >= 45", mode="merge-on-read")
    delete_from_iceberg(spark, t, "k in (0, 1)", mode="merge-on-read",
                        equality_cols=["k"])
    assert read_iceberg(spark, t).count() == 43

    update_iceberg(spark, t, {"v": "v + 100"}, "k < 10",
                   mode="merge-on-read")
    snap = resolve_snapshot(t)
    data_files = {p for p, _ in snap.files}
    assert files_before <= data_files, "MOR update must not rewrite"
    assert len(data_files) > len(files_before), "post rows missing"
    cur = read_iceberg(spark, t)
    assert cur.count() == 43
    # k in (0,1) were dead before the update: NOT resurrected
    assert cur.where("k in (0, 1)").count() == 0
    assert cur.where("k >= 2 and k < 10 and v = k + 100").count() == 8
    assert cur.where("k >= 10 and v = k").count() == 35

    # second MOR update compounds on the appended post rows
    update_iceberg(spark, t, {"v": "v * 2"}, "k = 5",
                   mode="merge-on-read")
    assert read_iceberg(spark, t).where("k = 5").collect()[0]["v"] == 210.0

    # changelog between head-1 and head reflects the update
    optimize_iceberg(spark, t)
    snap = resolve_snapshot(t)
    assert snap.deletes == [] and snap.pos_deletes == []
    cur = read_iceberg(spark, t)
    assert cur.count() == 43
    assert cur.where("k = 5").collect()[0]["v"] == 210.0


def test_iceberg_merge_on_read_merge(spark, tmp_path):
    """Iceberg MOR MERGE: matched target rows are position-deleted and
    re-appended with source values (or SET exprs), not-matched source
    rows insert — no existing data file rewritten.  Composes with prior
    MOR deletes; OPTIMIZE folds."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, merge_into_iceberg, optimize_iceberg,
        read_iceberg, resolve_snapshot, write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(30).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t)
    delete_from_iceberg(spark, t, "k >= 25", mode="merge-on-read")
    files_before = {p for p, _ in resolve_snapshot(t).files}

    src = spark.createDataFrame(
        [(3, 300.0), (27, 270.0), (100, 100.0)], "k long, v double")
    merge_into_iceberg(spark, t, src, on=["k"], mode="merge-on-read")
    snap = resolve_snapshot(t)
    assert files_before <= {p for p, _ in snap.files}, "no rewrite"
    cur = read_iceberg(spark, t)
    # 25 live originals: k=3 updated in place-count; k=27 was DEAD ->
    # it is NOT matched (not live), so it INSERTS; k=100 inserts
    assert cur.count() == 27
    assert cur.where("k = 3").collect()[0]["v"] == 300.0
    assert cur.where("k = 27").collect()[0]["v"] == 270.0
    assert cur.where("k = 100").collect()[0]["v"] == 100.0
    assert cur.where("k = 26").count() == 0  # still deleted

    # update_set form with s.-prefixed exprs, no inserts
    src2 = spark.createDataFrame([(3, 1.0), (999, 9.0)],
                                 "k long, v double")
    merge_into_iceberg(spark, t, src2, on=["k"],
                       update_set={"v": "v + s.v"},
                       insert_not_matched=False, mode="merge-on-read")
    cur = read_iceberg(spark, t)
    assert cur.count() == 27
    assert cur.where("k = 3").collect()[0]["v"] == 301.0
    assert cur.where("k = 999").count() == 0

    optimize_iceberg(spark, t)
    cur = read_iceberg(spark, t)
    assert cur.count() == 27
    assert cur.where("k = 3").collect()[0]["v"] == 301.0


def test_delta_merge_on_read_merge_dv(spark, tmp_path):
    """Delta MOR MERGE via deletion vectors: matched rows DV-marked,
    post-image + inserts appended, no existing file rewritten; CDC
    emits update pre/post images and insert rows; dead rows never
    match (no resurrection)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta, merge_into_delta, optimize_delta, read_delta,
        read_delta_cdf, resolve_snapshot, write_delta)

    t = str(tmp_path / "t")
    df = spark.range(30).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    write_delta(spark, df, t, enable_cdf=True)
    delete_from_delta(spark, t, "k >= 25", mode="merge-on-read")
    files_before = set(resolve_snapshot(spark, t).files)

    src = spark.createDataFrame(
        [(3, 300.0), (27, 270.0), (100, 100.0)], "k long, v double")
    v = merge_into_delta(spark, t, src, on=["k"], mode="merge-on-read")
    snap = resolve_snapshot(spark, t)
    assert files_before <= set(snap.files), "MOR merge must not rewrite"
    cur = read_delta(spark, t)
    # k=3 updated; k=27 was dead -> INSERTS; k=100 inserts: 25+2 = 27
    assert cur.count() == 27
    assert cur.where("k = 3").collect()[0]["v"] == 300.0
    assert cur.where("k = 27").collect()[0]["v"] == 270.0
    assert cur.where("k = 100").collect()[0]["v"] == 100.0
    assert cur.where("k = 26").count() == 0

    ch = read_delta_cdf(spark, t, v, v)
    assert ch.where("_change_type = 'update_preimage'").count() == 1
    assert ch.where("_change_type = 'update_postimage' and v = 300.0"
                    ).count() == 1
    assert ch.where("_change_type = 'insert'").count() == 2

    # update_set form, no inserts
    src2 = spark.createDataFrame([(3, 1.0), (999, 9.0)],
                                 "k long, v double")
    merge_into_delta(spark, t, src2, on=["k"],
                     update_set={"v": "v + s.v"},
                     insert_not_matched=False, mode="merge-on-read")
    cur = read_delta(spark, t)
    assert cur.count() == 27
    assert cur.where("k = 3").collect()[0]["v"] == 301.0
    assert cur.where("k = 999").count() == 0

    optimize_delta(spark, t)
    cur = read_delta(spark, t)
    assert not resolve_snapshot(spark, t).dvs
    assert cur.count() == 27 and cur.where("k = 3").collect()[0]["v"] == 301.0


def test_merge_set_expr_literal_with_s_dot_untouched(spark, tmp_path):
    """A MERGE SET expression whose string literal contains "s." (a
    hostname, a sentence) must pass through verbatim: the source-alias
    rewrite is word-boundary anchored, not a substring replace (the old
    replace corrupted 'docs.example.com' to 'doc__s_example.com')."""
    from dremio_oss_spark.sources.delta import (merge_into_delta,
                                                read_delta, write_delta)

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "old", 0.0), (2, "old", 0.0)], "k long, url string, v double")
    write_delta(spark, df, t)
    src = spark.createDataFrame([(1, 7.0)], "k long, amount double")
    merge_into_delta(
        spark, t, src, on=["k"],
        update_set={"url": "'docs.example.com'", "v": "s.amount * 2"},
        insert_not_matched=False)
    got = {r["k"]: (r["url"], r["v"]) for r in read_delta(spark, t).collect()}
    assert got == {1: ("docs.example.com", 14.0), 2: ("old", 0.0)}


def test_iceberg_legacy_table_seq_preserved_through_carry_forward(
        spark, tmp_path):
    """A table written BEFORE sequence stamping (no __seq anywhere) must
    keep its legacy apply-to-all equality-delete semantics across later
    commits: carry-forward preserves the ABSENCE of a sequence instead
    of restamping old entries with the current commit's sequence —
    restamping would put every old data file at-or-above the delete's
    sequence, turn the delete inert, and resurrect deleted rows."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.avro_codec import (read_avro_file,
                                                     write_avro_file)
    from dremio_oss_spark.sources.iceberg import (
        _entry_schema, _eq_seq_aware, delete_from_iceberg, read_iceberg,
        resolve_snapshot, write_iceberg)

    t = str(tmp_path / "t")
    df = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    write_iceberg(spark, df, t)
    delete_from_iceberg(spark, t, "k in (2, 5)", mode="merge-on-read",
                        equality_cols=["k"])
    assert read_iceberg(spark, t).count() == 8

    # simulate a legacy (pre-sequence-stamping) table: strip __seq from
    # every manifest entry of the current snapshot
    with open(_os.path.join(t, "metadata", "version-hint.text")) as f:
        v = f.read().strip()
    with open(_os.path.join(t, "metadata",
                            f"v{v}.metadata.json")) as f:
        meta = _json.load(f)
    snap_rec = [s for s in meta["snapshots"]
                if s["snapshot-id"] == meta["current-snapshot-id"]][0]
    for mf in read_avro_file(snap_rec["manifest-list"]):
        entries = read_avro_file(mf["manifest_path"])
        for e in entries:
            part = e["data_file"].get("partition") or {}
            part["__seq"] = None
        write_avro_file(mf["manifest_path"], _entry_schema([]), entries)

    legacy = resolve_snapshot(t)
    assert not _eq_seq_aware(legacy)
    assert read_iceberg(spark, t).count() == 8  # legacy apply-to-all

    # append fresh keys: the commit carries old entries forward
    write_iceberg(spark, spark.createDataFrame(
        [(100, 1.0), (101, 2.0)], "k long, v double"), t, mode="append")

    after = resolve_snapshot(t)
    # the carried legacy delete must STAY unstamped (legacy semantics)
    assert not _eq_seq_aware(after)
    cur = read_iceberg(spark, t)
    assert cur.where("k in (2, 5)").count() == 0  # no resurrection
    assert cur.where("k >= 100").count() == 2
    assert cur.count() == 10

    # carried legacy data files remain unstamped; only this commit's
    # files carry its sequence
    stamped = {p for p, s in after.file_seq.items() if s != 0}
    assert 0 < len(stamped) < len(after.file_seq)


def test_iceberg_mor_dml_no_match_no_commit(spark, tmp_path):
    """An UPDATE/MERGE/DELETE matching zero rows and inserting none
    must not commit a snapshot, in either mode (Spark writes one empty
    part file for an empty DataFrame; the zero-row part must not count
    as a delete or data file)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, merge_into_iceberg, read_iceberg,
        resolve_snapshot, update_iceberg, write_iceberg)

    df = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    empty_src = spark.createDataFrame([], "k long, v double")
    for mode in ("copy-on-write", "merge-on-read"):
        t = str(tmp_path / mode)
        write_iceberg(spark, df, t)
        sid0 = resolve_snapshot(t).snapshot_id

        assert update_iceberg(spark, t, {"v": "v + 1"}, "k > 1000",
                              mode=mode) == sid0
        assert merge_into_iceberg(spark, t, empty_src, ["k"],
                                  mode=mode) == sid0
        assert merge_into_iceberg(spark, t, df.where("k < 3"), ["k"],
                                  mode=mode, update_matched=False) == sid0
        assert delete_from_iceberg(spark, t, "k > 1000", mode=mode) == sid0
        assert delete_from_iceberg(spark, t, "k > 1000", mode=mode,
                                   equality_cols=["k"]) == sid0
        assert resolve_snapshot(t).snapshot_id == sid0, mode
        assert read_iceberg(spark, t).count() == 10

        # a matching update still commits normally
        update_iceberg(spark, t, {"v": "v + 1"}, "k = 1", mode=mode)
        assert resolve_snapshot(t).snapshot_id != sid0
        assert read_iceberg(spark, t).where("k = 1").collect()[0]["v"] == 2.0


def test_delta_dml_no_match_no_commit(spark, tmp_path):
    """Delta counterpart of the no-match rule: no version is written by
    a DELETE/UPDATE/MERGE that matches no row and inserts none, in
    either mode; the current version is returned."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta, merge_into_delta, read_delta, resolve_snapshot,
        update_delta, write_delta)

    df = spark.range(10).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v"))
    empty_src = spark.createDataFrame([], "k long, v double")
    for mode in ("copy-on-write", "merge-on-read"):
        t = str(tmp_path / mode)
        v0 = write_delta(spark, df, t)
        assert update_delta(spark, t, {"v": "v + 1"}, "k > 1000",
                            mode=mode) == v0
        assert merge_into_delta(spark, t, empty_src, ["k"],
                                mode=mode) == v0
        assert merge_into_delta(spark, t, df.where("k < 3"), ["k"],
                                mode=mode, update_matched=False) == v0
        assert delete_from_delta(spark, t, "k > 1000", mode=mode) == v0
        assert resolve_snapshot(spark, t).version == v0, mode
        assert delete_from_delta(spark, t, "k = 1", mode=mode) == v0 + 1
        assert read_delta(spark, t).count() == 9


def test_dml_after_mor_delete_sees_only_live_rows(spark, tmp_path):
    """A copy-on-write statement after a merge-on-read DELETE must treat
    the deleted rows as gone, on both formats: a MERGE re-inserts the
    deleted key (the insert anti-join runs against live keys only), and
    Delta's change-feed pre-images of a copy-on-write UPDATE hold no
    dead row."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources import delta as D
    from dremio_oss_spark.sources import iceberg as I

    df = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)],
                               "k long, v double")
    src = spark.createDataFrame([(1, 10.0), (4, 40.0)], "k long, v double")
    want = [(1, 10.0), (2, 2.0), (3, 3.0), (4, 40.0)]
    for write, delete, merge, read in (
            (D.write_delta, D.delete_from_delta, D.merge_into_delta,
             D.read_delta),
            (I.write_iceberg, I.delete_from_iceberg, I.merge_into_iceberg,
             I.read_iceberg)):
        t = str(tmp_path / write.__name__)
        write(spark, df, t)
        delete(spark, t, "k = 1", mode="merge-on-read")
        merge(spark, t, src, on=["k"])
        got = sorted((r["k"], r["v"]) for r in read(spark, t).collect())
        assert got == want, write.__name__

    t = str(tmp_path / "cdf")
    D.write_delta(spark, df, t, enable_cdf=True)
    D.delete_from_delta(spark, t, "k = 1", mode="merge-on-read")
    v = D.update_delta(spark, t, {"v": "v + 1"}, "k <= 2")
    pre = D.read_delta_cdf(spark, t, v, v).where(
        F.col("_change_type") == "update_preimage")
    assert [r["k"] for r in pre.collect()] == [2]


def test_delete_keeps_rows_where_predicate_is_null(spark, tmp_path):
    """SQL DELETE removes only the rows whose predicate is TRUE: a row
    where it is NULL stays, in both modes on both formats (copy-on-write
    used to drop it from every rewritten file)."""
    from dremio_oss_spark.sources import delta as D
    from dremio_oss_spark.sources import iceberg as I

    df = spark.createDataFrame([(1, 1.0), (2, None), (3, 3.0)],
                               "k long, v double").coalesce(1)
    for write, delete, read in (
            (D.write_delta, D.delete_from_delta, D.read_delta),
            (I.write_iceberg, I.delete_from_iceberg, I.read_iceberg)):
        for mode in ("copy-on-write", "merge-on-read"):
            t = str(tmp_path / f"{write.__name__}_{mode}")
            write(spark, df, t)
            delete(spark, t, "v > 2", mode=mode)
            got = sorted(r["k"] for r in read(spark, t).collect())
            assert got == [1, 2], (write.__name__, mode)


def test_dml_commit_after_concurrent_commit_raises(spark, tmp_path,
                                                   monkeypatch):
    """One snapshot per statement: a commit that lands between planning
    and commit makes the statement raise ConcurrentWriteError on both
    formats, instead of committing over a state it never read (Iceberg
    used to report success with the deleted row still present; Delta
    failed with a KeyError)."""
    from dremio_oss_spark.sources import delta as D
    from dremio_oss_spark.sources import iceberg as I
    from dremio_oss_spark.sources import lake_dml

    df = spark.createDataFrame([(1, 1.0), (2, 2.0), (3, 3.0)],
                               "k long, v double")
    plan = lake_dml.hit_files
    for write, delete, update, read in (
            (D.write_delta, D.delete_from_delta, D.update_delta,
             D.read_delta),
            (I.write_iceberg, I.delete_from_iceberg, I.update_iceberg,
             I.read_iceberg)):
        t = str(tmp_path / write.__name__)
        write(spark, df, t)
        raced = []

        def plan_then_race(*args):
            hits = plan(*args)
            if not raced:
                raced.append(True)
                update(spark, t, {"v": "v * 10"}, "k = 2")
            return hits

        monkeypatch.setattr(lake_dml, "hit_files", plan_then_race)
        with pytest.raises(D.ConcurrentWriteError):
            delete(spark, t, "k = 1")
        monkeypatch.setattr(lake_dml, "hit_files", plan)
        got = sorted((r["k"], r["v"]) for r in read(spark, t).collect())
        assert got == [(1, 1.0), (2, 20.0), (3, 3.0)], write.__name__


def test_copy_into_skip_file_and_copy_errors(spark, tmp_path):
    """ON_ERROR 'skip_file' (OnErrorAction.SKIP_FILE,
    SqlCopyIntoTable.java:709 — the mode auto-ingest pipes require):
    a file with ANY malformed record is skipped whole, recorded
    consumed (a re-run retries nothing and duplicates no error rows),
    and the diagnostics surface through TABLE(copy_errors('<t>'))."""
    import os

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.writer import copy_into, read_table

    register_testdata(spark, SF_SMALL)
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "good.csv"), "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    with open(os.path.join(src, "mixed.csv"), "w") as f:
        f.write("a,b\n3,z\nboom,junk,extra\n4,w\n")
    tgt = str(tmp_path / "tgt")
    n = copy_into(spark, tgt, os.path.join(src, "*.csv"), fmt="csv",
                  schema="a int, b string", on_error="skip_file",
                  header="true", job_id="js")
    # mixed.csv skipped WHOLE: its good rows 3 and 4 must not load
    assert n == 2
    assert sorted(r["a"] for r in read_table(spark, tgt).collect()) \
        == [1, 2]
    eng = Engine(spark)
    errs = eng.sql(
        f"select file_name, reason from table(copy_errors('{tgt}'))"
    ).collect()
    assert len(errs) == 1
    assert errs[0]["file_name"].endswith("mixed.csv")
    assert errs[0]["reason"] == "malformed record"
    # re-run: the skipped file was consumed; nothing loads, no
    # duplicate error records
    assert copy_into(spark, tgt, os.path.join(src, "*.csv"), fmt="csv",
                     schema="a int, b string", on_error="skip_file",
                     header="true", job_id="js2") == 0
    assert eng.sql(
        f"select count(*) c from table(copy_errors('{tgt}'))"
    ).collect()[0][0] == 1
    # unknown mode refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="on_error"):
        copy_into(spark, tgt, os.path.join(src, "*.csv"), fmt="csv",
                  schema="a int, b string", on_error="bogus")


def test_copy_into_continue_consumes_all_corrupt_file(spark, tmp_path):
    """ON_ERROR 'continue' with an ALL-corrupt file: the file yields no
    good rows, so it never lands in the good-file ledger entries — it
    must still be recorded consumed, or every re-run re-classifies it
    and appends duplicate _copy_errors records forever."""
    import os

    from dremio_oss_spark.sources.writer import (copy_into,
                                                 read_copy_errors,
                                                 read_table)

    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "good.csv"), "w") as f:
        f.write("a,b\n1,x\n")
    with open(os.path.join(src, "allbad.csv"), "w") as f:
        f.write("a,b\nboom,junk,extra\nalso,bad,row\n")
    with open(os.path.join(src, "partial.csv"), "w") as f:
        f.write("a,b\n2,y\nnope,zip,zap\n")
    tgt = str(tmp_path / "tgt")
    n = copy_into(spark, tgt, os.path.join(src, "*.csv"), fmt="csv",
                  schema="a int, b string", on_error="continue",
                  header="true", job_id="jc")
    # continue: good rows of partial.csv load; allbad.csv loads nothing
    assert n == 2
    assert read_copy_errors(spark, tgt).count() == 3
    # re-run: every file (including the all-corrupt one) is consumed —
    # nothing loads, NO duplicate error records
    assert copy_into(spark, tgt, os.path.join(src, "*.csv"), fmt="csv",
                     schema="a int, b string", on_error="continue",
                     header="true", job_id="jc2") == 0
    assert read_copy_errors(spark, tgt).count() == 3
    assert sorted(r["a"] for r in read_table(spark, tgt).collect()) \
        == [1, 2]


def test_optimize_binpack_options_and_rewrite_manifests(spark, tmp_path):
    """The reference's OPTIMIZE surface beyond plain bin-pack
    (parserImpls.ftl OPTIMIZE): REWRITE MANIFESTS (metadata-only) and
    REWRITE DATA USING BIN_PACK with MIN_INPUT_FILES /
    TARGET_FILE_SIZE_MB / MIN_FILE_SIZE_MB / MAX_FILE_SIZE_MB — small
    files compact, in-band files stay, below MIN_INPUT_FILES is a
    commit-free no-op; rows identical throughout on BOTH formats."""
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (read_delta,
                                                resolve_snapshot,
                                                write_delta)
    from dremio_oss_spark.sources.iceberg import (
        read_iceberg, resolve_snapshot as rs_i, write_iceberg)

    eng = Engine(spark)
    df = spark.range(1000).select(F.col("id").alias("k"),
                                  (F.col("id") % 7).alias("v"))

    td = str(tmp_path / "d")
    # 8 small files -> all under min_file_size, all candidates
    write_delta(spark, df.repartition(8), td)
    v0 = resolve_snapshot(spark, td).version
    # below MIN_INPUT_FILES: no-op, NO new commit
    eng.sql(f"optimize table '{td}' rewrite data using bin_pack "
            f"(min_input_files=50, target_file_size_mb=256)")
    assert resolve_snapshot(spark, td).version == v0
    # qualifying: 8 small files compact into ~1
    eng.sql(f"optimize table '{td}' rewrite data using bin_pack "
            f"(min_input_files=5, target_file_size_mb=256)")
    snap = resolve_snapshot(spark, td)
    assert snap.version == v0 + 1
    assert len(snap.files) < 8
    assert read_delta(spark, td).count() == 1000
    assert (read_delta(spark, td).agg(F.sum("k")).collect()[0][0]
            == 1000 * 999 // 2)
    # REWRITE MANIFESTS on delta: a checkpoint materializes, no new
    # version, rows unchanged
    eng.sql(f"optimize table '{td}' rewrite manifests")
    v = resolve_snapshot(spark, td).version
    assert v == snap.version
    assert os.path.exists(os.path.join(
        td, "_delta_log", f"{v:020d}.checkpoint.parquet"))
    assert read_delta(spark, td).count() == 1000

    ti = str(tmp_path / "i")
    write_iceberg(spark, df.repartition(6), ti)
    sid0 = rs_i(ti).snapshot_id
    eng.sql(f"optimize table '{ti}' rewrite data using bin_pack "
            f"(min_input_files=50)")
    assert rs_i(ti).snapshot_id == sid0  # no-op below MIN_INPUT_FILES
    eng.sql(f"optimize table '{ti}' rewrite data using bin_pack "
            f"(min_input_files=3, target_file_size_mb=128)")
    snap_i = rs_i(ti)
    assert snap_i.snapshot_id != sid0
    assert len(snap_i.files) < 6
    assert read_iceberg(spark, ti).count() == 1000
    # REWRITE MANIFESTS on iceberg: metadata-only snapshot, same rows,
    # same data files
    files_before = {os.path.basename(p) for p, _ in snap_i.files}
    eng.sql(f"optimize table '{ti}' rewrite manifests")
    snap_i2 = rs_i(ti)
    assert snap_i2.snapshot_id == snap_i.snapshot_id + 1
    assert {os.path.basename(p) for p, _ in snap_i2.files} \
        == files_before
    assert read_iceberg(spark, ti).count() == 1000
    # unknown option name refuses
    import pytest as _pytest

    with _pytest.raises(ValueError, match="OPTIMIZE option"):
        eng.sql(f"optimize table '{ti}' rewrite data using bin_pack "
                f"(bogus_knob=1)")


def test_truncate_table_both_formats(spark, tmp_path):
    """TRUNCATE TABLE (SqlTruncateTable, TruncateTableHandler.java):
    metadata-only delete-all commit on both formats — zero rows after,
    prior versions still time-travelable, re-insert works, EXPLAIN is a
    dry-run, and a CDF-enabled Delta table routes through the scan
    path so change rows exist."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (read_delta, read_delta_cdf,
                                                resolve_snapshot,
                                                write_delta)
    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg, read_iceberg,
        resolve_snapshot as rs_i, write_iceberg)

    eng = Engine(spark)
    df = spark.range(50).select(F.col("id").alias("k"),
                                (F.col("id") % 3).alias("v"))

    td = str(tmp_path / "d")
    write_delta(spark, df, td)
    # EXPLAIN is a dry-run: nothing committed
    eng.sql(f"explain plan for truncate table '{td}'")
    assert read_delta(spark, td).count() == 50
    eng.sql(f"truncate table '{td}'")
    assert read_delta(spark, td).count() == 0
    assert read_delta(spark, td, version=0).count() == 50  # time travel
    write_delta(spark, df.where("k < 7"), td, mode="append")
    assert read_delta(spark, td).count() == 7
    # idempotent on an empty table: no new version
    eng.sql(f"truncate table '{td}'")
    v = resolve_snapshot(spark, td).version
    eng.sql(f"truncate table '{td}'")
    assert resolve_snapshot(spark, td).version == v

    # CDF-enabled table: truncate stages delete change rows
    tc = str(tmp_path / "dc")
    write_delta(spark, df, tc, enable_cdf=True)
    eng.sql(f"truncate table '{tc}'")
    assert read_delta(spark, tc).count() == 0
    ch = read_delta_cdf(spark, tc, 1)
    assert ch.where("_change_type = 'delete'").count() == 50

    ti = str(tmp_path / "i")
    write_iceberg(spark, df, ti,
                  properties={"write.update.mode": "merge-on-read"})
    # leave a MOR delete file in play: truncate must drop it too
    delete_from_iceberg(spark, ti, "k = 1", mode="merge-on-read")
    assert read_iceberg(spark, ti).count() == 49
    sid_pre = rs_i(ti).snapshot_id
    eng.sql(f"truncate table '{ti}'")
    snap = rs_i(ti)
    assert read_iceberg(spark, ti).count() == 0
    assert not snap.files and not snap.deletes and not snap.pos_deletes
    assert read_iceberg(spark, ti, snapshot_id=sid_pre).count() == 49
    write_iceberg(spark, df.where("k < 5"), ti, mode="append")
    assert read_iceberg(spark, ti).count() == 5


def test_assign_branch_and_tag(spark, tmp_path):
    """ALTER BRANCH/TAG ... ASSIGN (SqlAssignBranch/SqlAssignTag,
    versionSupport.ftl): repoint a ref at another ref's commit or an
    explicit snapshot; a reassigned branch resets its fork base so
    MERGE BRANCH fast-forward measures from the new lineage start."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.iceberg import (read_iceberg,
                                                  resolve_snapshot,
                                                  write_iceberg)

    eng = Engine(spark)
    t = str(tmp_path / "i")
    df = spark.range(10).select(F.col("id").alias("k"))
    write_iceberg(spark, df, t)
    sid0 = resolve_snapshot(t).snapshot_id
    eng.sql(f"create tag v1 in '{t}'")
    write_iceberg(spark, spark.range(10, 20)
                  .select(F.col("id").alias("k")), t, mode="append")
    eng.sql(f"create branch dev in '{t}'")
    # tag points at sid0; reassign it to the branch's commit
    eng.sql(f"alter tag v1 assign branch dev in '{t}'")
    assert read_iceberg(spark, t, ref="v1").count() == 20
    # reassign the branch back to an explicit snapshot
    eng.sql(f"alter branch dev assign snapshot {sid0} in '{t}'")
    assert read_iceberg(spark, t, ref="dev").count() == 10
    # unknown ref / snapshot refuse
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        eng.sql(f"alter tag v1 assign branch nope in '{t}'")
    with _pytest.raises(FileNotFoundError):
        eng.sql(f"alter branch dev assign snapshot 999999 in '{t}'")


def test_show_create_table_sql(spark, tmp_path):
    """SHOW CREATE TABLE '<path>' / SHOW CREATE VIEW s.v (SqlShowCreate,
    parserImpls.ftl:1834): reconstructed DDL carries columns, the
    partition spec (Iceberg transforms as written), and properties."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta
    from dremio_oss_spark.sources.iceberg import write_iceberg

    eng = Engine(spark)
    df = spark.range(20).select(F.col("id").alias("k"),
                                (F.col("id") % 3).alias("p"),
                                F.col("id").cast("double").alias("v"))
    td = str(tmp_path / "d")
    write_delta(spark, df, td, partition_by=["p"],
                config={"delta.enableChangeDataFeed": "true"})
    ddl = eng.sql(f"show create table '{td}'").collect()[0]["ddl"]
    assert ddl.startswith(f"CREATE TABLE '{td}' (")
    assert "k BIGINT" in ddl and "USING DELTA" in ddl
    assert "PARTITIONED BY (p)" in ddl
    assert "'delta.enableChangeDataFeed' = 'true'" in ddl

    ti = str(tmp_path / "i")
    write_iceberg(spark, df, ti, partition_by=["bucket(4, k)"])
    ddl = eng.sql(f"show create table '{ti}'").collect()[0]["ddl"]
    assert "USING ICEBERG" in ddl and "bucket" in ddl

    eng.create_space("s")
    eng.create_vds("s", "twenty", "select id as k from range(20)")
    ddl = eng.sql("show create view s.twenty").collect()[0]["ddl"]
    assert ddl.startswith("CREATE VDS s.twenty AS select")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a lakehouse"):
        eng.sql(f"show create table '{tmp_path}'")


def test_vacuum_table_options_and_orphan_removal(spark, tmp_path):
    """SqlVacuumTable option arms (parserImpls.ftl:1264-1306): EXPIRE
    SNAPSHOTS retain_last keeps time travel to n versions; older_than
    retains everything newer than the cutoff; REMOVE ORPHAN FILES
    deletes only never-referenced parquet (history intact), with the
    mtime cutoff protecting fresh unreferenced files."""
    import os
    import time as _time

    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import (read_delta,
                                                write_delta)
    from dremio_oss_spark.sources.iceberg import (read_iceberg,
                                                  resolve_snapshot,
                                                  write_iceberg)

    eng = Engine(spark)
    df = spark.range(20).select(F.col("id").alias("k"))

    # --- delta: retain_last keeps older versions readable
    td = str(tmp_path / "d")
    write_delta(spark, df, td)
    write_delta(spark, df.where("k < 10"), td, mode="overwrite")
    write_delta(spark, df.where("k < 5"), td, mode="overwrite")
    eng.sql(f"vacuum table '{td}' expire snapshots retain_last = 2")
    assert read_delta(spark, td, version=1).count() == 10  # retained
    assert read_delta(spark, td).count() == 5

    # orphan: drop an unreferenced parquet into the table dir
    orphan = os.path.join(td, "part-orphan.parquet")
    spark.range(3).write.mode("overwrite").parquet(str(tmp_path / "o"))
    import glob as _glob
    import shutil as _shutil

    src = _glob.glob(str(tmp_path / "o" / "*.parquet"))[0]
    _shutil.copy(src, orphan)
    # a FUTURE cutoff treats the file as too fresh: protected
    eng.sql(f"vacuum table '{td}' remove orphan files "
            f"older_than = '2000-01-01 00:00:00'")
    assert os.path.exists(orphan)
    # without a cutoff it goes; live data intact
    eng.sql(f"vacuum table '{td}' remove orphan files")
    assert not os.path.exists(orphan)
    assert read_delta(spark, td).count() == 5

    # --- iceberg: older_than retains newer snapshots
    ti = str(tmp_path / "i")
    write_iceberg(spark, df, ti)
    write_iceberg(spark, df.where("k < 8"), ti, mode="overwrite")
    cutoff_before_all = "2000-01-01 00:00:00"
    eng.sql(f"vacuum table '{ti}' expire snapshots "
            f"older_than = '{cutoff_before_all}' retain_last = 1")
    # everything is newer than 2000: both snapshots retained
    assert read_iceberg(spark, ti).count() == 8
    # orphan removal on iceberg
    orphan_i = os.path.join(ti, "data", "orphan.parquet")
    _shutil.copy(src, orphan_i)
    eng.sql(f"vacuum table '{ti}' remove orphan files")
    assert not os.path.exists(orphan_i)
    assert read_iceberg(spark, ti).count() == 8
    sid = resolve_snapshot(ti).snapshot_id
    assert read_iceberg(spark, ti, snapshot_id=sid).count() == 8


def test_change_column_type_promotion(spark, tmp_path):
    """ALTER TABLE ... CHANGE/MODIFY COLUMN (SqlAlterTableChangeColumn,
    alter.ftl:152): widening promotions (int->bigint, float->double,
    decimal precision growth) and renames apply on both formats;
    narrowing and partition columns refuse."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import read_delta, write_delta
    from dremio_oss_spark.sources.iceberg import (read_iceberg,
                                                  write_iceberg)

    eng = Engine(spark)
    df = spark.range(10).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("float").alias("v"),
        (F.col("id") % 3).alias("p"))

    td = str(tmp_path / "d")
    write_delta(spark, df, td, partition_by=["p"])
    eng.sql(f"alter table '{td}' change column k k bigint")
    eng.sql(f"alter table '{td}' modify column v val double")
    out = read_delta(spark, td)
    assert dict(out.dtypes)["k"] == "bigint"
    assert dict(out.dtypes)["val"] == "double"
    assert out.agg(F.sum("k")).collect()[0][0] == 45
    with _pytest.raises(ValueError, match="illegal type change"):
        eng.sql(f"alter table '{td}' change column k k int")  # narrow
    with _pytest.raises(ValueError, match="partition"):
        eng.sql(f"alter table '{td}' change column p p bigint")

    ti = str(tmp_path / "i")
    write_iceberg(spark, df.drop("p"), ti)
    eng.sql(f"alter table '{ti}' change column k k bigint")
    out = read_iceberg(spark, ti)
    assert dict(out.dtypes)["k"] == "bigint"
    assert out.count() == 10
    with _pytest.raises(ValueError, match="illegal type change"):
        eng.sql(f"alter table '{ti}' change column v v int")


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_optimize_applies_declared_localsort(spark, tmp_path, fmt):
    """ALTER TABLE LOCALSORT BY then OPTIMIZE: the compaction rewrite
    range-clusters on the declared keys — rewritten files cover
    disjoint key ranges (checked via per-file min/max stats), rows
    unchanged."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources import delta, iceberg

    t = str(tmp_path / "ls_t")
    df = spark.range(0, 4000).select(
        (F.col("id") * 7919 % 4000).alias("k"),
        F.col("id").alias("v"))
    # several unsorted files
    if fmt == "delta":
        delta.write_delta(spark, df.repartition(6), t)
    else:
        iceberg.write_iceberg(spark, df.repartition(6), t)
    eng = Engine(spark)
    eng.sql(f"ALTER TABLE '{t}' LOCALSORT BY (k)")
    eng.sql(f"OPTIMIZE TABLE '{t}'")
    if fmt == "delta":
        snap = delta.resolve_snapshot(spark, t)
        stats = [snap.stats.get(p) or {} for p in snap.files]
    else:
        snap = iceberg.resolve_snapshot(t)
        stats = [snap.stats.get(p) or {} for p, _pv in snap.files]
    ranges = []
    for st in stats:
        lo = (st.get("minValues") or {}).get("k")
        hi = (st.get("maxValues") or {}).get("k")
        assert lo is not None and hi is not None
        ranges.append((int(lo), int(hi)))
    ranges.sort()
    assert len(ranges) > 1  # actually range-split
    for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
        assert h1 <= l2, f"overlapping key ranges {ranges}"
    got = eng.sql(f"select count(*) as n, sum(v) as s from '{t}'").first()
    assert (got["n"], got["s"]) == (4000, sum(range(4000)))