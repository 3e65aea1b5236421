"""Source/format/writer/DML coverage queries (SURVEY.md §2.3/§2.4).

Each query exercises a real read/write path end-to-end: write derived
data to a scratch dir under the repo, read it back through the engine's
source layer, and produce a result the DuckDB oracle re-derives directly
from the original parquet — so format fidelity (schema + values) is part
of the correctness gate.

Scratch dirs are deterministic per (query, sf) and wiped at the start of
each run for idempotence; results stay lazy over the freshly written
files.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..sources.formats import FormatRegistry
from ..sources.writer import copy_into, ctas, insert_into, read_table
from ..localframe import meta_df

_SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch")


def _scratch(name: str, sf: str) -> str:
    tag = os.path.basename(os.path.normpath(sf))
    d = os.path.join(_SCRATCH_ROOT, f"{name}-{tag}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


# --------------------------------------------------------------------------
# CSV round-trip (TextFormatPlugin.java:54 compliant-text parser)
def csv_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    d = _scratch("csv_rt", sf)
    load(spark, sf, "nation").write.mode("overwrite").option("header", "true").csv(
        os.path.join(d, "nation_csv")
    )
    reg = FormatRegistry(spark)
    nation = reg.read(
        os.path.join(d, "nation_csv"),
        "csv",
        schema="n_nationkey bigint, n_name string, n_regionkey bigint",
    )
    region = load(spark, sf, "region")
    return (
        nation.join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        )
        .orderBy("r_name")
    )


CSV_ROUNDTRIP_SQL = """
select r_name, count(*) as n_nations, cast(sum(n_nationkey) as bigint) as key_sum
from nation join region on n_regionkey = r_regionkey
group by r_name order by r_name
"""


# --------------------------------------------------------------------------
# JSON round-trip (JSONRecordReader.java:71 schema-on-read)
def json_roundtrip(spark: SparkSession, sf: str) -> DataFrame:
    d = _scratch("json_rt", sf)
    load(spark, sf, "supplier").write.mode("overwrite").json(
        os.path.join(d, "supplier_json")
    )
    supp = FormatRegistry(spark).read(os.path.join(d, "supplier_json"), "json")
    return (
        supp.groupBy("s_nationkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.sum(F.col("s_acctbal").cast("decimal(18,2)")).cast("double").alias("bal_sum"),
        )
        .orderBy("s_nationkey")
    )


JSON_ROUNDTRIP_SQL = """
select s_nationkey, count(*) as n_supp,
       cast(sum(cast(s_acctbal as decimal(18,2))) as double) as bal_sum
from supplier group by s_nationkey order by s_nationkey
"""


# --------------------------------------------------------------------------
# Arrow IPC read (ArrowFormatPlugin.java:40)
def arrow_read(spark: SparkSession, sf: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.ipc as ipc
    import pyarrow.parquet as pq

    d = _scratch("arrow_rt", sf)
    table = pq.read_table(os.path.join(sf, "region.parquet"))
    fp = os.path.join(d, "region.arrow")
    with ipc.new_file(fp, table.schema) as w:
        w.write_table(table)
    region = FormatRegistry(spark).read(fp, "arrow")
    return region.select("r_regionkey", "r_name").orderBy("r_regionkey")


ARROW_READ_SQL = "select r_regionkey, r_name from region order by r_regionkey"


# --------------------------------------------------------------------------
# CTAS + INSERT INTO (CreateTableHandler.java, WriterOperator.java:52)
def ctas_insert(spark: SparkSession, sf: str) -> DataFrame:
    d = _scratch("ctas", sf)
    t = os.path.join(d, "orders_t")
    orders = load(spark, sf, "orders")
    ctas(
        orders.where(F.col("o_orderkey") <= 1000),
        t,
        partition_by=["o_orderpriority"],
    )
    insert_into(
        orders.where((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000)),
        t,
        partition_by=["o_orderpriority"],
    )
    return (
        spark.read.parquet(t)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("price_sum"),
        )
        .orderBy("o_orderpriority")
    )


CTAS_INSERT_SQL = """
select o_orderpriority, count(*) as n_orders,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) as price_sum
from orders where o_orderkey <= 2000
group by o_orderpriority order by o_orderpriority
"""


# --------------------------------------------------------------------------
# COPY INTO with file dedup (CopyIntoPlanBuilder.java, ingestion.ftl pipes)
def copy_into_dedup(spark: SparkSession, sf: str) -> DataFrame:
    d = _scratch("copyinto", sf)
    t = os.path.join(d, "customer_t")
    src = os.path.join(sf, "customer.parquet")
    n1 = copy_into(spark, t, src, fmt="parquet")
    n2 = copy_into(spark, t, src, fmt="parquet")  # same file -> deduped, 0 rows
    assert n2 == 0, "COPY INTO dedup failed to skip an already-loaded file"
    return (
        read_table(spark, t)
        .groupBy()
        .agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("c_custkey").alias("n_keys"),
        )
    )


COPY_INTO_SQL = """
select count(*) as n_rows, count(distinct c_custkey) as n_keys from customer
"""


def copy_errors_modes(spark: SparkSession, sf: str) -> DataFrame:
    """COPY INTO error handling end-to-end, both reference modes
    (ON_ERROR grammar ingestion.ftl:160; OnErrorAction
    SqlCopyIntoTable.java:709): 'skip_file' skips a file containing ANY
    malformed record WHOLE (good rows of that file do not load; the
    file is recorded consumed so a re-run never retries), 'continue'
    loads the good rows and diverts the bad records.  Both append
    diagnostics queryable via TABLE(copy_errors('<target>')) — the
    reference's copy_errors table function (CopyErrorsMacro.java).
    Re-running the skip_file load returns 0 and duplicates nothing."""
    from ..engine import Engine
    from ..sources.writer import copy_into

    d = _scratch("copy_errors", sf)
    nat = sorted((r["n_nationkey"], r["n_name"]) for r in
                 load(spark, sf, "nation")
                 .where("n_nationkey < 20")
                 .select("n_nationkey", "n_name").collect())
    srcdir = os.path.join(d, "src")
    os.makedirs(srcdir, exist_ok=True)

    def _write_csv(name, rows, bad=0):
        with open(os.path.join(srcdir, name), "w") as f:
            f.write("n_nationkey,n_name\n")  # reader default: header
            for k, nm in rows:
                f.write(f"{k},{nm}\n")
            for i in range(bad):
                # non-numeric key + an extra column -> malformed under
                # the declared schema
                f.write(f"not_a_number,junk{i},extra\n")

    _write_csv("a.csv", [r for r in nat if r[0] < 10])
    _write_csv("b.csv", [r for r in nat if 10 <= r[0] < 15], bad=2)
    _write_csv("c.csv", [r for r in nat if r[0] >= 15])
    schema = "n_nationkey bigint, n_name string"
    glob_ = os.path.join(srcdir, "*.csv")

    t_skip = os.path.join(d, "t_skip")
    n_skip = copy_into(spark, t_skip, glob_, fmt="csv", schema=schema,
                       on_error="skip_file", job_id="job-skip")
    # re-run: every file (including the skipped one) is consumed — no
    # rows load, no duplicate error records
    assert copy_into(spark, t_skip, glob_, fmt="csv", schema=schema,
                     on_error="skip_file", job_id="job-skip2") == 0
    t_cont = os.path.join(d, "t_cont")
    n_cont = copy_into(spark, t_cont, glob_, fmt="csv", schema=schema,
                       on_error="continue", job_id="job-cont")
    assert n_cont == n_skip + 5, (n_cont, n_skip)

    eng = Engine(spark)
    err_skip = eng.sql(
        f"select count(*) as c from table(copy_errors('{t_skip}'))"
    ).collect()[0][0]
    err_cont = eng.sql(
        f"select count(*) as c from table(copy_errors('{t_cont}'))"
    ).collect()[0][0]

    def one(mode, tbl, n_err):
        return (spark.read.parquet(tbl).groupBy()
                .agg(F.count("*").cast("bigint").alias("n_rows"),
                     F.sum("n_nationkey").cast("bigint").alias("key_sum"))
                .withColumn("mode", F.lit(mode))
                .withColumn("n_errors", F.lit(n_err).cast("bigint"))
                .select("mode", "n_rows", "key_sum", "n_errors"))

    return (one("continue", t_cont, err_cont)
            .unionByName(one("skip_file", t_skip, err_skip))
            .orderBy("mode"))


COPY_ERRORS_SQL = """
with base as (select n_nationkey from nation where n_nationkey < 20)
select 'continue' as mode,
       cast(count(*) as bigint) as n_rows,
       cast(sum(n_nationkey) as bigint) as key_sum,
       cast(2 as bigint) as n_errors
from base
union all
select 'skip_file',
       cast(count(*) as bigint),
       cast(sum(n_nationkey) as bigint),
       cast(2 as bigint)
from base where n_nationkey not between 10 and 14
order by mode
"""


# --------------------------------------------------------------------------
# Copy-on-write DML: DELETE + UPDATE + MERGE on an Iceberg table through
# the lake DML core (DmlCopyOnWritePlanGenerator.java, Parser.tdd:624-685)
def dml_cow(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources import lake_dml
    from ..sources.iceberg import read_iceberg, write_iceberg

    t = os.path.join(_scratch("dml", sf), "customer_t")
    cust = load(spark, sf, "customer")
    write_iceberg(spark, cust, t)
    ice = lake_dml.codec("iceberg")
    lake_dml.delete(ice, spark, t, "c_acctbal < 0")
    lake_dml.update(ice, spark, t, {"c_mktsegment": "'VIP'"},
                    "c_custkey <= 10")
    # MERGE INTO t USING src ON c_custkey: matched -> new balance, else insert
    # keys 1-5 that survived the DELETE (acctbal >= 0) -> guaranteed matched
    src = cust.where(
        (F.col("c_custkey") <= 5) & (F.col("c_acctbal") >= 0)
    ).withColumn(
        "c_acctbal", F.lit(0.0)
    ).unionByName(
        meta_df(spark, 
            [(10_000_001, "Customer#fresh", 0, 1.5, "NEW")],
            "c_custkey bigint, c_name string, c_nationkey bigint, "
            "c_acctbal double, c_mktsegment string",
        )
    )
    lake_dml.merge(ice, spark, t, src, on=["c_custkey"],
                   update_set={"c_acctbal": "s.c_acctbal"})
    return (
        read_iceberg(spark, t)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("bal"),
        )
        .orderBy("c_mktsegment")
    )


DML_COW_SQL = """
with after_delete as (
  select * from customer where not (c_acctbal < 0)
), after_update as (
  select c_custkey, c_name, c_nationkey, c_acctbal,
         case when c_custkey <= 10 then 'VIP' else c_mktsegment end as c_mktsegment
  from after_delete
), after_merge as (
  select c_custkey, c_name, c_nationkey,
         case when c_custkey <= 5 then 0.0 else c_acctbal end as c_acctbal,
         c_mktsegment
  from after_update
  union all
  select 10000001, 'Customer#fresh', 0, 1.5, 'NEW'
)
select c_mktsegment, count(*) as n,
       cast(sum(cast(c_acctbal as decimal(18,2))) as double) as bal
from after_merge group by c_mktsegment order by c_mktsegment
"""


# --------------------------------------------------------------------------
# Delta Lake read (DeltaLakeFormatPlugin.java — log-parsing reader, no jar)
def _delta_fixture(spark: SparkSession, sf: str) -> str:
    """Build a two-commit Delta table from nation: commit 0 = full table,
    commit 1 = DELETE rewrite keeping n_regionkey <= 2 (remove+add).
    Hand-written per the public Delta protocol (PROTOCOL.md) since no
    delta writer jar exists in this environment."""
    import glob
    import json

    d = _scratch("delta_rt", sf)
    t = os.path.join(d, "nation_delta")
    os.makedirs(os.path.join(t, "_delta_log"), exist_ok=True)
    nation = load(spark, sf, "nation")

    def _one_file(df: DataFrame, name: str) -> str:
        tmp = os.path.join(d, f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        os.replace(src, os.path.join(t, name))
        return name

    f0 = _one_file(nation, "file-0.parquet")
    f1 = _one_file(nation.where(F.col("n_regionkey") <= 2), "file-1.parquet")

    def _commit(version: int, actions: list[dict]) -> None:
        p = os.path.join(t, "_delta_log", f"{version:020d}.json")
        with open(p, "w") as fh:
            fh.write("".join(json.dumps(a) + "\n" for a in actions))

    meta = {
        "metaData": {
            "id": "nation-delta-fixture",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": nation.schema.json(),
            "partitionColumns": [],
            "configuration": {},
        }
    }
    _commit(0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        meta,
        {"commitInfo": {"operation": "WRITE", "timestamp": 0}},
        {"add": {"path": f0, "partitionValues": {}, "size": 1,
                 "modificationTime": 0, "dataChange": True}},
    ])
    _commit(1, [
        {"commitInfo": {"operation": "DELETE", "timestamp": 1}},
        {"remove": {"path": f0, "deletionTimestamp": 1, "dataChange": True}},
        {"add": {"path": f1, "partitionValues": {}, "size": 1,
                 "modificationTime": 1, "dataChange": True}},
    ])
    return t


def delta_read(spark: SparkSession, sf: str) -> DataFrame:
    """Read a Delta table at HEAD and VERSION AS OF 0 through the
    log-parsing reader; both states feed one oracle-checked result."""
    from ..sources.delta import read_delta

    t = _delta_fixture(spark, sf)
    head = (
        read_delta(spark, t)
        .groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        )
    )
    v0_count = read_delta(spark, t, version=0).groupBy().agg(
        F.count("*").alias("n_at_v0")
    )
    return head.crossJoin(v0_count).orderBy("n_regionkey")


DELTA_READ_SQL = """
select n_regionkey, count(*) as n_nations,
       cast(sum(n_nationkey) as bigint) as key_sum,
       (select count(*) from nation) as n_at_v0
from nation
where n_regionkey <= 2
group by n_regionkey
order by n_regionkey
"""


# --------------------------------------------------------------------------
# Iceberg read (IcebergFormatPlugin.java — metadata-tree reader, no jar)
def _iceberg_fixture(spark: SparkSession, sf: str) -> str:
    """Two-snapshot Iceberg table from nation per the public table spec:
    snapshot 1 appends the full table, snapshot 2 is a DELETE rewrite
    keeping n_regionkey <= 2 (tombstone + new data file)."""
    import glob
    import json

    from ..sources.avro_codec import write_avro_file

    d = _scratch("iceberg_rt", sf)
    t = os.path.join(d, "nation_iceberg")
    os.makedirs(os.path.join(t, "metadata"), exist_ok=True)
    os.makedirs(os.path.join(t, "data"), exist_ok=True)
    nation = load(spark, sf, "nation")

    def _one_file(df: DataFrame, name: str) -> str:
        tmp = os.path.join(d, f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        os.replace(glob.glob(os.path.join(tmp, "part-*.parquet"))[0],
                   os.path.join(t, "data", name))
        return f"data/{name}"

    f0 = _one_file(nation, "file-0.parquet")
    f1 = _one_file(nation.where(F.col("n_regionkey") <= 2), "file-1.parquet")

    entry_schema = {
        "type": "record", "name": "manifest_entry", "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {"name": "data_file", "type": {
                "type": "record", "name": "r2", "fields": [
                    {"name": "file_path", "type": "string"},
                    {"name": "file_format", "type": "string"},
                    {"name": "partition", "type": {
                        "type": "record", "name": "r102", "fields": []}},
                    {"name": "record_count", "type": "long"},
                    {"name": "file_size_in_bytes", "type": "long"},
                ]}},
        ]}
    list_schema = {
        "type": "record", "name": "manifest_file", "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "added_snapshot_id", "type": ["null", "long"]},
        ]}

    def _entry(status: int, path: str) -> dict:
        return {"status": status, "snapshot_id": 1,
                "data_file": {"file_path": path, "file_format": "PARQUET",
                              "partition": {}, "record_count": 1,
                              "file_size_in_bytes": 1}}

    def _manifest(name: str, entries: list[dict]) -> str:
        p = os.path.join(t, "metadata", name)
        write_avro_file(p, entry_schema, entries)
        return p

    def _mlist(name: str, manifests: list[str]) -> str:
        p = os.path.join(t, "metadata", name)
        write_avro_file(p, list_schema, [
            {"manifest_path": m, "manifest_length": 1,
             "partition_spec_id": 0, "added_snapshot_id": 1}
            for m in manifests
        ])
        return p

    ml1 = _mlist("ml1.avro", [_manifest("m1.avro", [_entry(1, f0)])])
    ml2 = _mlist(
        "ml2.avro", [_manifest("m2.avro", [_entry(2, f0), _entry(1, f1)])]
    )
    meta = {
        "format-version": 2, "table-uuid": "nation-iceberg-fixture",
        "location": t, "current-snapshot-id": 2, "current-schema-id": 0,
        "schemas": [{"type": "struct", "schema-id": 0, "fields": [
            {"id": 1, "name": "n_nationkey", "required": False, "type": "long"},
            {"id": 2, "name": "n_name", "required": False, "type": "string"},
            {"id": 3, "name": "n_regionkey", "required": False, "type": "long"},
        ]}],
        "default-spec-id": 0, "partition-specs": [{"spec-id": 0, "fields": []}],
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1,
             "summary": {"operation": "append"}, "manifest-list": ml1},
            {"snapshot-id": 2, "timestamp-ms": 2,
             "summary": {"operation": "delete"}, "manifest-list": ml2},
        ],
    }
    with open(os.path.join(t, "metadata", "v2.metadata.json"), "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(t, "metadata", "version-hint.text"), "w") as fh:
        fh.write("2")
    return t


def iceberg_read(spark: SparkSession, sf: str) -> DataFrame:
    """Read an Iceberg table at HEAD and AT SNAPSHOT 1 through the
    metadata reader; both states feed one oracle-checked result."""
    from ..sources.iceberg import read_iceberg

    t = _iceberg_fixture(spark, sf)
    head = (
        read_iceberg(spark, t)
        .groupBy("n_regionkey")
        .agg(
            F.count("*").alias("n_nations"),
            F.sum("n_nationkey").cast("bigint").alias("key_sum"),
        )
    )
    v1_count = read_iceberg(spark, t, snapshot_id=1).groupBy().agg(
        F.count("*").alias("n_at_snap1")
    )
    return head.crossJoin(v1_count).orderBy("n_regionkey")


ICEBERG_READ_SQL = """
select n_regionkey, count(*) as n_nations,
       cast(sum(n_nationkey) as bigint) as key_sum,
       (select count(*) from nation) as n_at_snap1
from nation
where n_regionkey <= 2
group by n_regionkey
order by n_regionkey
"""


# --------------------------------------------------------------------------
# Delta Lake write path (log-commit writer: CTAS / append / COW delete)
def delta_write(spark: SparkSession, sf: str) -> DataFrame:
    """Exercise the full Delta WRITE path: partitioned CTAS overwrite,
    INSERT INTO append, copy-on-write DELETE, then read the final state
    back through the log reader plus a time-travel count at v1.
    Reference write side: `exec/store/deltalake/DeltaLakeFormatPlugin.java`
    (dremio-oss reads; the writer here follows delta.io PROTOCOL.md)."""
    from ..sources.delta import delete_from_delta, read_delta, write_delta
    from .tpch import dsum

    t = os.path.join(_scratch("delta_w", sf), "supplier_delta")
    supp = load(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    write_delta(spark, supp, t, mode="overwrite",
                partition_by=["s_nationkey"])
    extra = supp.withColumn("s_suppkey", F.col("s_suppkey") + 1000000)
    write_delta(spark, extra, t, mode="append",
                partition_by=["s_nationkey"])
    delete_from_delta(spark, t, "s_acctbal < 0")
    cur = read_delta(spark, t)
    agg = (
        cur.groupBy("s_nationkey")
        .agg(F.count("*").cast("bigint").alias("n_suppliers"),
             dsum(F.col("s_acctbal"), 2).alias("acctbal_sum"))
    )
    v1 = read_delta(spark, t, version=1).groupBy().agg(
        F.count("*").cast("bigint").alias("n_before_delete"))
    return agg.crossJoin(v1).orderBy("s_nationkey")


DELTA_WRITE_SQL = """
with w as (
  select s_suppkey, s_nationkey, s_acctbal from supplier
  union all
  select s_suppkey + 1000000, s_nationkey, s_acctbal from supplier
)
select s_nationkey,
       cast(count(*) as bigint) as n_suppliers,
       cast(sum(cast(s_acctbal as decimal(18,2))) as double) as acctbal_sum,
       (select cast(count(*) as bigint) from w) as n_before_delete
from w
where not (s_acctbal < 0)
group by s_nationkey
order by s_nationkey
"""


# --------------------------------------------------------------------------
# Iceberg write path (metadata-commit writer: CTAS / append / COW delete)
def iceberg_write(spark: SparkSession, sf: str) -> DataFrame:
    """Exercise the full Iceberg WRITE path: partitioned CTAS, append
    snapshot, copy-on-write DELETE snapshot; read HEAD back through the
    metadata reader plus a time-travel count at the append snapshot.
    Reference write side: `exec/store/iceberg/IcebergFormatPlugin.java`
    manifest-writing path (layout per the public table spec)."""
    from ..sources.iceberg import (delete_from_iceberg, read_iceberg,
                                   write_iceberg)
    from .tpch import dsum

    t = os.path.join(_scratch("iceberg_w", sf), "customer_iceberg")
    cust = load(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    write_iceberg(spark, cust, t, mode="overwrite",
                  partition_by=["c_mktsegment"])
    extra = cust.withColumn("c_custkey", F.col("c_custkey") + 1000000)
    s2 = write_iceberg(spark, extra, t, mode="append",
                       partition_by=["c_mktsegment"])
    delete_from_iceberg(spark, t, "c_acctbal < 0")
    cur = read_iceberg(spark, t)
    agg = (
        cur.groupBy("c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("n_customers"),
             dsum(F.col("c_acctbal"), 2).alias("acctbal_sum"))
    )
    s2c = read_iceberg(spark, t, snapshot_id=s2).groupBy().agg(
        F.count("*").cast("bigint").alias("n_at_append"))
    return agg.crossJoin(s2c).orderBy("c_mktsegment")


ICEBERG_WRITE_SQL = """
with w as (
  select c_custkey, c_mktsegment, c_acctbal from customer
  union all
  select c_custkey + 1000000, c_mktsegment, c_acctbal from customer
)
select c_mktsegment,
       cast(count(*) as bigint) as n_customers,
       cast(sum(cast(c_acctbal as decimal(18,2))) as double) as acctbal_sum,
       (select cast(count(*) as bigint) from w) as n_at_append
from w
where not (c_acctbal < 0)
group by c_mktsegment
order by c_mktsegment
"""


# --------------------------------------------------------------------------
# Lakehouse DML: MERGE INTO on Delta, UPDATE + OPTIMIZE + VACUUM on Iceberg
def delta_merge(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO a partitioned Delta table: matched keys take the
    source's acctbal (+100.00 exact decimal add — no rounding drift),
    unmatched source rows insert.  Read the merged state back through
    the log reader and aggregate.  Reference DML surface: dremio-oss
    MERGE on Iceberg tables (`MergeHandler`); same semantics on Delta."""
    from ..sources.delta import merge_into_delta, read_delta, write_delta
    from .tpch import dsum

    t = os.path.join(_scratch("delta_m", sf), "customer_delta")
    cust = load(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    write_delta(spark, cust, t, mode="overwrite",
                partition_by=["c_mktsegment"])
    src = (
        cust.where(F.col("c_custkey") % 97 == 0)
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.00)
        .unionByName(
            cust.where(F.col("c_custkey") % 499 == 0)
            .withColumn("c_custkey", F.col("c_custkey") + 10000000))
    )
    merge_into_delta(spark, t, src, on=["c_custkey"])
    return (
        read_delta(spark, t)
        .groupBy("c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("n_customers"),
             dsum(F.col("c_acctbal"), 2).alias("acctbal_sum"))
        .orderBy("c_mktsegment")
    )


DELTA_MERGE_SQL = """
with merged as (
  select c_custkey, c_mktsegment,
         case when c_custkey % 97 = 0 then c_acctbal + 100.00
              else c_acctbal end as c_acctbal
  from customer
  union all
  select c_custkey + 10000000, c_mktsegment, c_acctbal
  from customer where c_custkey % 499 = 0
)
select c_mktsegment,
       cast(count(*) as bigint) as n_customers,
       cast(sum(cast(c_acctbal as decimal(18,2))) as double) as acctbal_sum
from merged
group by c_mktsegment
order by c_mktsegment
"""


def iceberg_dml(spark: SparkSession, sf: str) -> DataFrame:
    """UPDATE on a partitioned Iceberg table, then OPTIMIZE (bin-pack)
    and VACUUM (expire snapshots + delete orphaned files) — the read
    after maintenance must still see exactly the updated rows, which is
    what the oracle checks.  Reference: dremio-oss UPDATE/OPTIMIZE/
    VACUUM TABLE on Iceberg (`UpdateHandler`, `OptimizeHandler`,
    `VacuumTableHandler`)."""
    from ..sources.iceberg import (expire_iceberg_snapshots,
                                   optimize_iceberg, read_iceberg,
                                   resolve_snapshot, update_iceberg,
                                   write_iceberg)
    from .tpch import dsum

    t = os.path.join(_scratch("iceberg_dml", sf), "part_iceberg")
    part = load(spark, sf, "part").select(
        "p_partkey", "p_brand", "p_retailprice")
    write_iceberg(spark, part, t, mode="overwrite",
                  partition_by=["p_brand"])
    update_iceberg(spark, t, {"p_retailprice": "p_retailprice + 25.25"},
                   "p_partkey % 7 = 0")
    n_before = len(resolve_snapshot(t).files)
    optimize_iceberg(spark, t)
    removed = expire_iceberg_snapshots(t, keep_last=1)
    return (
        read_iceberg(spark, t)
        .groupBy("p_brand")
        .agg(F.count("*").cast("bigint").alias("n_parts"),
             dsum(F.col("p_retailprice"), 2).alias("price_sum"))
        .withColumn("maintenance_ok",
                    F.lit(bool(removed) and n_before > 0))
        .orderBy("p_brand")
    )


ICEBERG_DML_SQL = """
select p_brand,
       cast(count(*) as bigint) as n_parts,
       cast(sum(cast(case when p_partkey % 7 = 0
                          then p_retailprice + 25.25
                          else p_retailprice end as decimal(18,2)))
            as double) as price_sum,
       true as maintenance_ok
from part
group by p_brand
order by p_brand
"""


def iceberg_transforms(spark: SparkSession, sf: str) -> DataFrame:
    """Hidden-partitioning round trip: write orders PARTITION BY
    (bucket(4, o_custkey), year(o_orderdate)), then answer a
    single-customer query through the manifest-pruned scan
    (`plan_iceberg_scan`) — the bucket transform prunes to 1/4 of the
    files with no o_custkey in any path.  Reference: Iceberg partition
    transforms in dremio-oss CREATE TABLE (`parserImpls.ftl`,
    `IcebergUtils.java` transform mapping).  The oracle recomputes from
    raw orders; `pruned` asserts the scan really skipped files."""
    from ..sources.iceberg import plan_iceberg_scan, write_iceberg
    from .tpch import dsum

    t = os.path.join(_scratch("iceberg_tf", sf), "orders_iceberg")
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    write_iceberg(spark, orders, t,
                  partition_by=["bucket(4, o_custkey)",
                                "year(o_orderdate)"])
    k = orders.agg(F.min("o_custkey")).collect()[0][0]
    df, total, scanned = plan_iceberg_scan(spark, t, {"o_custkey": k})
    return (
        df.where(F.col("o_custkey") == k)  # residual filter after prune
        .groupBy(F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.count("*").cast("bigint").alias("n_orders"),
             dsum(F.col("o_totalprice"), 2).alias("total_sum"))
        .withColumn("pruned", F.lit(0 < scanned < total))
        .orderBy("o_year")
    )


ICEBERG_TRANSFORMS_SQL = """
select cast(year(o_orderdate) as bigint) as o_year,
       cast(count(*) as bigint) as n_orders,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total_sum,
       true as pruned
from orders
where o_custkey = (select min(o_custkey) from orders)
group by 1
order by 1
"""


def schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """ALTER TABLE ADD COLUMNS on a Delta table: write the first half of
    part without the new column, evolve the schema (metadata-only),
    append the second half WITH it, and aggregate across the null-filled
    boundary.  Reference: dremio-oss ALTER TABLE ADD/DROP COLUMNS on
    Iceberg tables (`SqlAlterTableAddColumns`)."""
    from ..sources.delta import alter_delta, read_delta, write_delta
    from .tpch import dsum

    t = os.path.join(_scratch("delta_ev", sf), "part_delta")
    part = load(spark, sf, "part").select("p_partkey", "p_retailprice")
    mid = part.agg(F.max("p_partkey")).collect()[0][0] // 2
    write_delta(spark, part.where(F.col("p_partkey") <= mid), t)
    alter_delta(spark, t, add={"price_band": "string"})
    late = (
        part.where(F.col("p_partkey") > mid)
        .withColumn("price_band",
                    F.when(F.col("p_retailprice") > 1500, "hi")
                    .otherwise("lo"))
    )
    write_delta(spark, late, t, mode="append")
    return (
        read_delta(spark, t)
        .groupBy(F.coalesce("price_band", F.lit("none")).alias("band"))
        .agg(F.count("*").cast("bigint").alias("n_parts"),
             dsum(F.col("p_retailprice"), 2).alias("price_sum"))
        .orderBy("band")
    )


SCHEMA_EVOLUTION_SQL = """
with mid as (select max(p_partkey) // 2 as m from part)
select case when p_partkey <= (select m from mid) then 'none'
            when p_retailprice > 1500 then 'hi' else 'lo' end as band,
       cast(count(*) as bigint) as n_parts,
       cast(sum(cast(p_retailprice as decimal(18,2))) as double) as price_sum
from part
group by 1
order by 1
"""


def lake_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata table functions + ROLLBACK: build a Delta table from
    nation, DELETE a region, inspect TABLE(table_history/snapshot/files)
    through the engine SQL surface, then ROLLBACK TO SNAPSHOT 0 and
    verify the restored row count.  Reference:
    `MetadataFunctionsMacro.java:36` (table_history/table_files/...),
    `parserImpls.ftl:1211` (ROLLBACK TABLE)."""
    from ..engine import Engine

    eng = Engine(spark)
    from ..sources.delta import read_delta, write_delta

    t = os.path.join(_scratch("delta_meta", sf), "nation_delta")
    write_delta(spark, load(spark, sf, "nation")
                .select("n_nationkey", "n_name", "n_regionkey"), t)
    eng.sql(f"DELETE FROM '{t}' WHERE n_regionkey = 0")
    n_commits = eng.sql(
        f"select count(*) as c from table(table_history('{t}'))"
    ).collect()[0]["c"]
    n_after_delete = read_delta(spark, t).count()
    eng.sql(f"ROLLBACK TABLE '{t}' TO SNAPSHOT '0'")
    return (
        read_delta(spark, t)
        .groupBy()
        .agg(F.count("*").cast("bigint").alias("n_restored"))
        .withColumn("n_commits", F.lit(n_commits).cast("bigint"))
        .withColumn("n_after_delete",
                    F.lit(n_after_delete).cast("bigint"))
    )


LAKE_METADATA_SQL = """
select cast(count(*) as bigint) as n_restored,
       cast(2 as bigint) as n_commits,
       cast((select count(*) from nation where n_regionkey <> 0)
            as bigint) as n_after_delete
from nation
"""


def delta_stats_prune(spark: SparkSession, sf: str) -> DataFrame:
    """File skipping from add.stats: write orders range-partitioned on
    o_orderkey (contiguous key ranges per file), then answer a point
    lookup through `plan_delta_scan` — min/max stats prune to one file
    with no partition column involved.  Reference: Delta scan
    file-skipping in `DeltaLakeScanPrel` (footer min/max pruning)."""
    from ..sources.delta import plan_delta_scan, write_delta
    from .tpch import dsum

    t = os.path.join(_scratch("delta_st", sf), "orders_delta")
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    write_delta(spark, orders.repartitionByRange(8, "o_orderkey"), t)
    k = orders.agg(F.max("o_orderkey")).collect()[0][0]
    df, total, scanned = plan_delta_scan(spark, t, {"o_orderkey": k})
    return (
        df.where(F.col("o_orderkey") == k)  # residual filter after skip
        .groupBy()
        .agg(F.count("*").cast("bigint").alias("n_rows"),
             dsum(F.col("o_totalprice"), 2).alias("price_sum"))
        .withColumn("skipped", F.lit(0 < scanned < total))
    )


DELTA_STATS_PRUNE_SQL = """
select cast(count(*) as bigint) as n_rows,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) as price_sum,
       true as skipped
from orders
where o_orderkey = (select max(o_orderkey) from orders)
"""



def delta_dv(spark: SparkSession, sf: str) -> DataFrame:
    """Delta deletion vectors end-to-end: MOR DELETE records roaring
    row-index bitmaps (no data rewrite — asserted), MOR UPDATE DV-marks
    and re-appends post-image rows (delta-spark\'s DV update; original
    files all stay live — asserted), the reader hides dead rows, DVs
    stack, and time travel still sees the original count.  Reference
    read side: delta PROTOCOL.md "Deletion Vectors" as
    DeltaLakeFormatPlugin would consume them."""
    from ..sources.delta import (delete_from_delta, read_delta,
                                 resolve_snapshot, update_delta,
                                 write_delta)
    from .tpch import dsum

    t = os.path.join(_scratch("delta_dv", sf), "cust_delta")
    cust = load(spark, sf, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal")
    write_delta(spark, cust, t)
    files_before = set(resolve_snapshot(spark, t).files)
    delete_from_delta(spark, t, "c_acctbal < 0", mode="merge-on-read")
    delete_from_delta(spark, t, "c_mktsegment = \'BUILDING\'",
                      mode="merge-on-read")
    snap = resolve_snapshot(spark, t)
    assert set(snap.files) == files_before, "DV delete must not rewrite"
    assert snap.dvs, "deletion vectors missing"
    # MOR UPDATE: DV-mark + append post rows; originals all stay live
    update_delta(spark, t, {"c_acctbal": "c_acctbal + 10"},
                 "c_mktsegment = \'MACHINERY\'", mode="merge-on-read")
    snap = resolve_snapshot(spark, t)
    assert files_before <= set(snap.files), "MOR update must not rewrite"
    assert len(set(snap.files)) > len(files_before), "post rows missing"
    n_v0 = read_delta(spark, t, version=0).count()
    return (
        read_delta(spark, t)
        .groupBy("c_mktsegment")
        .agg(F.count("*").cast("bigint").alias("n_cust"),
             dsum(F.col("c_acctbal"), 2).alias("acctbal_sum"))
        .withColumn("n_before", F.lit(n_v0).cast("bigint"))
        .orderBy("c_mktsegment")
    )


DELTA_DV_SQL = """
with live as (
  select c_custkey, c_mktsegment,
         case when c_mktsegment = 'MACHINERY'
              then c_acctbal + 10 else c_acctbal end as c_acctbal
  from customer
  where not (c_acctbal < 0) and c_mktsegment <> 'BUILDING'
)
select c_mktsegment,
       cast(count(*) as bigint) as n_cust,
       cast(sum(cast(c_acctbal as decimal(18,2))) as double) as acctbal_sum,
       (select cast(count(*) as bigint) from customer) as n_before
from live
group by c_mktsegment
order by c_mktsegment
"""


def iceberg_posdelete(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg POSITIONAL merge-on-read DML end-to-end: DELETE writes
    (file_path, pos) delete files (no rewrite — asserted), an append
    with previously-deleted keys is NOT swallowed (positional
    semantics), MOR UPDATE position-deletes + appends post-image rows
    (no rewrite — asserted), OPTIMIZE folds the delete files, values
    stay exact.  Reference: `DmlPositionalMergeOnReadPlanGenerator.java`."""
    from ..sources.iceberg import (delete_from_iceberg, optimize_iceberg,
                                   read_iceberg, resolve_snapshot,
                                   update_iceberg, write_iceberg)
    from .tpch import dsum

    t = os.path.join(_scratch("ice_posdel", sf), "supp_ice")
    supp = load(spark, sf, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal")
    write_iceberg(spark, supp, t)
    files_before = {p for p, _ in resolve_snapshot(t).files}
    # key-mod predicate: matches rows at EVERY scale factor (a value
    # predicate like s_acctbal < 0 matches nothing at sf0.001, and a
    # zero-match MOR DELETE correctly commits no snapshot at all)
    delete_from_iceberg(spark, t, "s_suppkey % 3 = 0",
                        mode="merge-on-read")
    snap = resolve_snapshot(t)
    assert {p for p, _ in snap.files} == files_before, "no rewrite"
    assert snap.pos_deletes, "position delete file missing"
    # re-add the deleted rows with shifted keys: none may be swallowed
    re_add = (load(spark, sf, "supplier").where("s_suppkey % 3 = 0")
              .select((F.col("s_suppkey") + 1000000).alias("s_suppkey"),
                      "s_nationkey", "s_acctbal"))
    write_iceberg(spark, re_add, t, mode="append")
    # MOR UPDATE (the reference\'s DmlPositionalMergeOnReadPlanGenerator
    # shape): position-delete + append post-image, no rewrite of the
    # pre-existing data files
    files_pre_upd = {p for p, _ in resolve_snapshot(t).files}
    update_iceberg(spark, t, {"s_acctbal": "s_acctbal - 5"},
                   "s_nationkey = 0", mode="merge-on-read")
    snap = resolve_snapshot(t)
    assert files_pre_upd <= {p for p, _ in snap.files}, "no rewrite"
    optimize_iceberg(spark, t)
    assert resolve_snapshot(t).pos_deletes == []
    return (
        read_iceberg(spark, t)
        .groupBy()
        .agg(F.count("*").cast("bigint").alias("n_rows"),
             F.count(F.when(F.col("s_acctbal") < 0, 1))
             .cast("bigint").alias("n_negative"),
             dsum(F.col("s_acctbal"), 2).alias("acctbal_sum"))
    )


ICEBERG_POSDELETE_SQL = """
with kept as (
  select s_nationkey, s_acctbal from supplier where not (s_suppkey % 3 = 0)
  union all
  select s_nationkey, s_acctbal from supplier where s_suppkey % 3 = 0
), updated as (
  select case when s_nationkey = 0 then s_acctbal - 5
              else s_acctbal end as s_acctbal
  from kept
)
select cast(count(*) as bigint) as n_rows,
       cast(count(case when s_acctbal < 0 then 1 end) as bigint)
         as n_negative,
       cast(sum(cast(s_acctbal as decimal(18,2))) as double) as acctbal_sum
from updated
"""


def partition_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-spec evolution end-to-end: bucket(4) table evolves to
    bucket(8) with no rewrite; point lookups prune under each file's OWN
    spec (old-spec files never mispruned — values verified), reads stay
    exact across the mixed-spec file set."""
    from ..sources.iceberg import (alter_iceberg_partition_spec,
                                   plan_iceberg_scan, read_iceberg,
                                   resolve_snapshot, write_iceberg)
    from .tpch import dsum

    t = os.path.join(_scratch("ice_evo", sf), "orders_ice")
    orders = load(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice")
    half = orders.where("o_orderkey % 2 = 0")
    write_iceberg(spark, half, t, partition_by=["bucket(4, o_custkey)"])
    alter_iceberg_partition_spec(t, ["bucket(8, o_custkey)"])
    write_iceberg(spark, orders.where("o_orderkey % 2 = 1"), t,
                  mode="append")
    assert resolve_snapshot(t).default_spec_id == 1
    k = orders.agg(F.min("o_custkey")).collect()[0][0]
    pruned, total, scanned = plan_iceberg_scan(spark, t, {"o_custkey": k})
    assert 0 < scanned < total
    probe = (pruned.where(F.col("o_custkey") == k)
             .agg(F.count("*").cast("bigint").alias("n_probe")))
    return (
        read_iceberg(spark, t)
        .groupBy()
        .agg(F.count("*").cast("bigint").alias("n_rows"),
             dsum(F.col("o_totalprice"), 2).alias("price_sum"))
        .crossJoin(probe)
    )


PARTITION_EVOLUTION_SQL = """
select cast(count(*) as bigint) as n_rows,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) as price_sum,
       (select cast(count(*) as bigint) from orders
        where o_custkey = (select min(o_custkey) from orders)) as n_probe
from orders
"""


def count_metadata(spark: SparkSession, sf: str) -> DataFrame:
    """Metadata-only COUNT(*) under driver conditions: build a Delta
    table from a lineitem slice, count it through Engine.sql (answered
    from add.stats with no scan — CountOnScanToValuesRule), and emit the
    count alongside a filtered count that MUST take the scan path."""
    from ..engine import Engine
    from ..sources.delta import write_delta

    d = _scratch("cntmeta", sf)
    t = os.path.join(d, "li")
    li = load(spark, sf, "lineitem").where(F.col("l_orderkey") <= 2000)
    write_delta(spark, li, t)
    eng = Engine(spark)
    meta_n = eng.sql(f"select count(*) as n from '{t}'").first()["n"]
    from_metadata = eng.last_count_from_metadata == t
    scan_n = eng.sql(
        f"select count(*) as n from '{t}' where l_quantity < 10"
    ).first()["n"]
    return meta_df(spark, 
        [(int(meta_n), bool(from_metadata), int(scan_n))],
        "n_rows long, from_metadata boolean, n_small long",
    )


COUNT_METADATA_SQL = """
select cast(count(*) as bigint) as n_rows,
       true as from_metadata,
       cast(count(*) filter (where l_quantity < 10) as bigint) as n_small
from lineitem
where l_orderkey <= 2000
"""


def use_branch(spark: SparkSession, sf: str) -> DataFrame:
    """USE BRANCH session context under driver conditions: an Iceberg
    table from nation, a branch write adding one row, then the same
    un-AT-ed SELECT counted at dev and back at main."""
    from ..engine import Engine
    from ..sources.iceberg import write_iceberg

    d = _scratch("usebranch", sf)
    t = os.path.join(d, "nat")
    write_iceberg(spark, load(spark, sf, "nation"), t)
    eng = Engine(spark)
    eng.sql(f"CREATE BRANCH dev IN '{t}'")
    nat = load(spark, sf, "nation")
    extra = meta_df(spark, [(999, "ZZZ", 0)], nat.schema)
    write_iceberg(spark, extra, t, mode="append", branch="dev")
    q = f"select count(*) as n from '{t}'"
    eng.sql(f"USE BRANCH dev IN '{t}'")
    dev_n = eng.sql(q).first()["n"]
    eng.sql(f"USE BRANCH main IN '{t}'")
    main_n = eng.sql(q).first()["n"]
    return meta_df(spark, 
        [(int(main_n), int(dev_n))], "main_n long, dev_n long"
    )


USE_BRANCH_SQL = """
select cast(count(*) as bigint) as main_n,
       cast(count(*) + 1 as bigint) as dev_n
from nation
"""




def mor_dml(spark: SparkSession, sf: str) -> DataFrame:
    """Merge-on-read DML end-to-end on BOTH formats, routed by the
    formats' own table properties (never an explicit mode argument):
    `write.update.mode`/`write.merge.mode` on Iceberg and
    `delta.enableDeletionVectors` on Delta send UPDATE and MERGE to the
    mark-dead + append-post-image paths — no pre-existing data file is
    rewritten (asserted on both tables).  The reference's MOR DML plans
    (`DmlPositionalMergeOnReadPlanGenerator.java`) / delta-spark's DV
    DML.  Final states of both tables must agree with one closed-form
    oracle."""
    from ..sources.delta import (read_delta, resolve_snapshot as rs_d,
                                 set_delta_properties, write_delta)
    from ..sources.iceberg import (merge_into_iceberg, read_iceberg,
                                   resolve_snapshot as rs_i,
                                   set_iceberg_properties,
                                   update_iceberg, write_iceberg)
    from ..sources.delta import merge_into_delta, update_delta
    from .tpch import dsum

    base = _scratch("mor_dml", sf)
    nat = load(spark, sf, "nation").select(
        "n_nationkey", "n_regionkey")
    src = (load(spark, sf, "nation")
           .where("n_nationkey < 5")
           .select("n_nationkey",
                   (F.col("n_regionkey") + 100).alias("n_regionkey"))
           .unionByName(meta_df(spark, 
               [(900, 9), (901, 9)],
               "n_nationkey long, n_regionkey long")
               .select(F.col("n_nationkey").cast("long"),
                       F.col("n_regionkey").cast("long"))))

    td = os.path.join(base, "d")
    write_delta(spark, nat, td,
                config={"delta.enableDeletionVectors": "true"})
    files_d = set(rs_d(spark, td).files)
    update_delta(spark, td, {"n_regionkey": "n_regionkey + 10"},
                 "n_nationkey >= 20")          # property-routed MOR
    merge_into_delta(spark, td, src, on=["n_nationkey"])
    assert files_d <= set(rs_d(spark, td).files), "delta MOR rewrote"

    ti = os.path.join(base, "i")
    write_iceberg(spark, nat, ti, properties={
        "write.update.mode": "merge-on-read",
        "write.merge.mode": "merge-on-read"})
    files_i = {p for p, _ in rs_i(ti).files}
    update_iceberg(spark, ti, {"n_regionkey": "n_regionkey + 10"},
                   "n_nationkey >= 20")        # property-routed MOR
    merge_into_iceberg(spark, ti, src, on=["n_nationkey"])
    assert files_i <= {p for p, _ in rs_i(ti).files}, "iceberg MOR rewrote"

    def agg(df, tag):
        return (df.groupBy()
                .agg(F.count("*").cast("bigint").alias("n_rows"),
                     dsum(F.col("n_regionkey").cast("double"), 2)
                     .alias("region_sum"))
                .withColumn("fmt", F.lit(tag)))

    return (agg(read_delta(spark, td), "delta")
            .unionByName(agg(read_iceberg(spark, ti), "iceberg"))
            .orderBy("fmt"))


MOR_DML_SQL = """
with upd as (
  select n_nationkey,
         case when n_nationkey >= 20 then n_regionkey + 10
              else n_regionkey end as n_regionkey
  from nation
), merged as (
  select u.n_nationkey,
         case when u.n_nationkey < 5 then u0.n_regionkey + 100
              else u.n_regionkey end as n_regionkey
  from upd u join nation u0 on u.n_nationkey = u0.n_nationkey
  union all
  select * from (values (900, 9), (901, 9)) v(n_nationkey, n_regionkey)
), one as (
  select cast(count(*) as bigint) as n_rows,
         cast(sum(cast(cast(n_regionkey as double) as decimal(18,2)))
              as double) as region_sum
  from merged
)
select n_rows, region_sum, 'delta' as fmt from one
union all
select n_rows, region_sum, 'iceberg' as fmt from one
order by fmt
"""


def maintenance_lifecycle(spark: SparkSession, sf: str) -> DataFrame:
    """Table-maintenance surface end-to-end on BOTH formats via engine
    SQL: bin-pack OPTIMIZE with the reference's size options
    (ParseOptimizeOptions — small files compact toward the target, a
    below-MIN_INPUT_FILES run is a commit-free no-op), REWRITE
    MANIFESTS (metadata-only), then TRUNCATE (metadata-only delete-all,
    SqlTruncateTable) and a re-insert.  Every phase's row count is
    asserted in-query; the final state must match a closed-form oracle
    over nation."""
    from ..engine import Engine
    from ..sources.delta import read_delta, resolve_snapshot as rs_d
    from ..sources.delta import write_delta
    from ..sources.iceberg import read_iceberg, write_iceberg
    from .tpch import dsum

    eng = Engine(spark)
    base = _scratch("maint", sf)
    nat = load(spark, sf, "nation").select("n_nationkey", "n_regionkey")
    n_nat = nat.count()  # one action, shared by both formats' asserts

    results = []
    for fmt in ("delta", "iceberg"):
        t = os.path.join(base, fmt)
        write = write_delta if fmt == "delta" else write_iceberg
        read = read_delta if fmt == "delta" else read_iceberg
        write(spark, nat.repartition(6), t)
        # below MIN_INPUT_FILES: commit-free no-op
        eng.sql(f"optimize table '{t}' rewrite data using bin_pack "
                f"(min_input_files=50)")
        # qualifying: 6 small files bin-pack toward the target size
        eng.sql(f"optimize table '{t}' rewrite data using bin_pack "
                f"(min_input_files=3, target_file_size_mb=64)")
        assert read(spark, t).count() == n_nat, \
            f"{fmt}: OPTIMIZE changed row count"
        eng.sql(f"optimize table '{t}' rewrite manifests")
        eng.sql(f"truncate table '{t}'")
        assert read(spark, t).count() == 0, f"{fmt}: TRUNCATE left rows"
        write(spark, nat.where("n_regionkey <> 2"), t, mode="append")
        results.append(
            read(spark, t).groupBy()
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 dsum(F.col("n_regionkey").cast("double"), 2)
                 .alias("region_sum"))
            .withColumn("fmt", F.lit(fmt)))
    return results[0].unionByName(results[1]).orderBy("fmt")


MAINTENANCE_SQL = """
with kept as (
  select n_regionkey from nation where n_regionkey <> 2
), one as (
  select cast(count(*) as bigint) as n_rows,
         cast(sum(cast(cast(n_regionkey as double) as decimal(18,2)))
              as double) as region_sum
  from kept
)
select n_rows, region_sum, 'delta' as fmt from one
union all
select n_rows, region_sum, 'iceberg' as fmt from one
order by fmt
"""


def branch_optimize(spark: SparkSession, sf: str) -> DataFrame:
    """OPTIMIZE / VACUUM on a VERSIONED table (the reference's
    OptimizeHandler.java:129 supports versioned tables): small inserts
    on a branch fragment the file set; OPTIMIZE TABLE ... AT BRANCH dev
    bin-packs the branch snapshot DETACHED and advances only dev's
    pointer — rows identical (value-checked here), file count drops
    (asserted), and main's snapshot id and contents are untouched
    (asserted).  VACUUM TABLE then expires only snapshots no catalog
    commit references, with every ref still resolving."""
    from ..engine import Engine
    from ..sources import dataplane
    from ..sources.iceberg import resolve_snapshot

    root = _scratch("dpoptimize", sf)
    eng = Engine(spark)
    eng.create_versioned_source("dpo", root)
    load(spark, sf, "orders").createOrReplaceTempView("orders")
    eng.sql("CREATE TABLE dpo.ord AS select o_orderkey, o_custkey, "
            "o_totalprice from orders")
    eng.sql("CREATE BRANCH dev IN dpo")
    for i, mod in enumerate((97, 89, 83), start=1):
        eng.sql(f"INSERT INTO dpo.ord AT BRANCH dev "
                f"select o_orderkey + {i * 1000000}, o_custkey, "
                f"o_totalprice from orders where o_orderkey % {mod} = 0")

    def _snap(ref):
        content = dataplane.state_at(root, ref)["ord"]
        return content["snapshot_id"], len(resolve_snapshot(
            os.path.join(root, content["location"]),
            content["snapshot_id"]).files)

    main_sid_before, _ = _snap("main")
    _, dev_files_before = _snap("dev")
    main_n_before = eng.sql(
        "select count(*) as n from dpo.ord").first()["n"]
    eng.sql("OPTIMIZE TABLE dpo.ord AT BRANCH dev "
            "(min_input_files = 2)")
    dev_sid_after, dev_files_after = _snap("dev")
    main_sid_after, _ = _snap("main")
    assert dev_files_after < dev_files_before, \
        (dev_files_before, dev_files_after)
    assert main_sid_after == main_sid_before, \
        "OPTIMIZE on dev must not move main's snapshot"
    files_dropped = int(dev_files_after < dev_files_before)
    # VACUUM expires only catalog-unreferenced snapshots; every ref
    # still reads (main count unchanged proves main's files survive)
    dataplane.vacuum_table(root, "ord")
    main_n_after = eng.sql(
        "select count(*) as n2 from dpo.ord").first()["n2"]
    vacuum_ok = int(main_n_after == main_n_before)
    df = eng.sql(
        "select count(*) as n, "
        "cast(sum(cast(o_totalprice as decimal(28,4))) as double) as s "
        "from dpo.ord AT BRANCH dev")
    from pyspark.sql import functions as F

    return df.select(
        "n", "s",
        F.lit(files_dropped).alias("files_dropped"),
        F.lit(int(main_sid_after == main_sid_before))
        .alias("main_untouched"),
        F.lit(vacuum_ok).alias("vacuum_ok"))


BRANCH_OPTIMIZE_SQL = """
with dev as (
  select o_orderkey, o_custkey, o_totalprice from orders
  union all
  select o_orderkey + 1000000, o_custkey, o_totalprice from orders
  where o_orderkey % 97 = 0
  union all
  select o_orderkey + 2000000, o_custkey, o_totalprice from orders
  where o_orderkey % 89 = 0
  union all
  select o_orderkey + 3000000, o_custkey, o_totalprice from orders
  where o_orderkey % 83 = 0
)
select count(*) as n,
       cast(sum(cast(o_totalprice as decimal(28,4))) as double) as s,
       1 as files_dropped, 1 as main_untouched, 1 as vacuum_ok
from dev
"""


def catalog_branch(spark: SparkSession, sf: str) -> DataFrame:
    """Catalog-level (Nessie dataplane) versioning end-to-end: a
    versioned source holding TWO tables; a branch receives writes to
    both; a cross-table join AT BRANCH differs from main; one MERGE
    BRANCH advances both tables atomically, after which main agrees
    with the branch.  Reference `plugins/dataplane/.../
    DataplanePlugin.java`, `services/nessie/`, grammar
    `parserImpls.ftl:943` (sources/dataplane.py)."""
    from ..engine import Engine

    root = _scratch("dataplane", sf)
    eng = Engine(spark)
    eng.create_versioned_source("dpx", root)
    load(spark, sf, "customer").createOrReplaceTempView("customer")
    load(spark, sf, "orders").createOrReplaceTempView("orders")
    eng.sql("CREATE TABLE dpx.cust AS "
            "select c_custkey, c_mktsegment from customer")
    eng.sql("CREATE TABLE dpx.ord AS "
            "select o_orderkey, o_custkey from orders")
    eng.sql("CREATE BRANCH dev IN dpx")
    # both tables written ON THE BRANCH: shifted key copies, so every
    # new order joins exactly one new customer and nothing else
    eng.sql("INSERT INTO dpx.cust AT BRANCH dev "
            "select c_custkey + 1000000, c_mktsegment "
            "from customer where c_custkey <= 20")
    eng.sql("INSERT INTO dpx.ord AT BRANCH dev "
            "select o_orderkey + 1000000, o_custkey + 1000000 "
            "from orders where o_custkey <= 20")
    join = ("select count(*) as n from dpx.cust{at} c "
            "join dpx.ord{at} o on c.c_custkey = o.o_custkey")
    main_n = eng.sql(join.format(at="")).first()["n"]
    dev_n = eng.sql(join.format(at=" AT BRANCH dev")).first()["n"]
    eng.sql("MERGE BRANCH dev INTO main IN dpx")
    merged_n = eng.sql(join.format(at="")).first()["n"]
    tag_ok = 1  # a tag made now pins the merged state
    eng.sql("CREATE TAG rel IN dpx")
    eng.sql("INSERT INTO dpx.cust VALUES (2000000, 'ZZ')")
    tag_n = eng.sql(
        "select count(*) as n from dpx.cust AT TAG rel").first()["n"]
    cust_total = eng.sql(
        "select count(*) as n from dpx.cust").first()["n"]
    tag_ok = int(tag_n == cust_total - 1)
    return meta_df(spark, 
        [(int(main_n), int(dev_n), int(merged_n), tag_ok)],
        "main_n long, dev_n long, merged_n long, tag_pinned int")


CATALOG_BRANCH_SQL = """
with j as (
  select cast(count(*) as bigint) as n
  from customer c join orders o on c.c_custkey = o.o_custkey
), extra as (
  select cast(count(*) as bigint) as n
  from orders where o_custkey <= 20
)
select j.n as main_n,
       j.n + extra.n as dev_n,
       j.n + extra.n as merged_n,
       1 as tag_pinned
from j, extra
"""




# --------------------------------------------------------------------------
# Named filesystem (dfs/NAS) source: <source>.<table> namespace over a
# directory (FileSystemPlugin resolution; FormatCreator.java sniffing)
def named_source(spark: SparkSession, sf: str) -> DataFrame:
    """Attach the sf dir as a NAS source and resolve `<source>.<table>`
    refs through engine SQL — a join + aggregate entirely in the
    source's namespace, plus a csv dataset under the same source to
    prove per-file format sniffing (reference `FileSystemPlugin`,
    `FormatCreator.java`)."""
    import csv as _csv

    from ..engine import Engine

    d = _scratch("named_source", sf)
    # one csv TABLE inside the source dir (top-level file = dataset)
    cust = load(spark, sf, "customer").select(
        "c_custkey", "c_nationkey").orderBy("c_custkey").limit(100)
    with open(os.path.join(d, "custfile.csv"), "w", newline="") as f:
        w = _csv.writer(f)
        w.writerow(["c_custkey", "c_nationkey"])
        for r in cust.collect():
            w.writerow([r["c_custkey"], r["c_nationkey"]])
    # parquet datasets resolve straight out of the sf dir
    eng = Engine(spark)
    eng.create_dir_source("nas_src", sf)
    eng.create_dir_source("nas_scratch", d)
    return eng.sql("""
        select r.r_name as region_name,
               cast(count(*) as bigint) as n_nations,
               cast(sum(n.n_nationkey) as bigint) as key_sum,
               cast(max(cf.n_cust) as bigint) as cust_sample
        from nas_src.nation n
        join nas_src.region r on n.n_regionkey = r.r_regionkey
        cross join (select count(*) as n_cust
                    from nas_scratch.custfile) cf
        group by r.r_name
        order by r.r_name""")


NAMED_SOURCE_SQL = """
select r.r_name as region_name,
       cast(count(*) as bigint) as n_nations,
       cast(sum(n.n_nationkey) as bigint) as key_sum,
       cast(max(cf.n_cust) as bigint) as cust_sample
from nation n
join region r on n.n_regionkey = r.r_regionkey
cross join (select least(count(*), 100) as n_cust from customer) cf
group by r.r_name
order by r.r_name
"""


SOURCES_QUERIES = {
    "src_catalog_branch": catalog_branch,
    "src_named_source": named_source,
    "src_branch_optimize": branch_optimize,
    "src_maintenance": maintenance_lifecycle,
    "src_count_metadata": count_metadata,
    "src_use_branch": use_branch,
    "src_delta_dv": delta_dv,
    "src_mor_dml": mor_dml,
    "src_iceberg_posdelete": iceberg_posdelete,
    "src_partition_evolution": partition_evolution,
    "src_csv_roundtrip": csv_roundtrip,
    "src_json_roundtrip": json_roundtrip,
    "src_arrow_read": arrow_read,
    "src_ctas_insert": ctas_insert,
    "src_copy_into_dedup": copy_into_dedup,
    "src_copy_errors": copy_errors_modes,
    "src_dml_cow": dml_cow,
    "src_delta_read": delta_read,
    "src_iceberg_read": iceberg_read,
    "src_delta_write": delta_write,
    "src_iceberg_write": iceberg_write,
    "src_delta_merge": delta_merge,
    "src_iceberg_dml": iceberg_dml,
    "src_iceberg_transforms": iceberg_transforms,
    "src_schema_evolution": schema_evolution,
    "src_lake_metadata": lake_metadata,
    "src_delta_stats_prune": delta_stats_prune,
}

SOURCES_ORACLE = {
    "src_catalog_branch": CATALOG_BRANCH_SQL,
    "src_named_source": NAMED_SOURCE_SQL,
    "src_branch_optimize": BRANCH_OPTIMIZE_SQL,
    "src_maintenance": MAINTENANCE_SQL,
    "src_count_metadata": COUNT_METADATA_SQL,
    "src_use_branch": USE_BRANCH_SQL,
    "src_delta_dv": DELTA_DV_SQL,
    "src_mor_dml": MOR_DML_SQL,
    "src_iceberg_posdelete": ICEBERG_POSDELETE_SQL,
    "src_partition_evolution": PARTITION_EVOLUTION_SQL,
    "src_csv_roundtrip": CSV_ROUNDTRIP_SQL,
    "src_json_roundtrip": JSON_ROUNDTRIP_SQL,
    "src_arrow_read": ARROW_READ_SQL,
    "src_ctas_insert": CTAS_INSERT_SQL,
    "src_copy_into_dedup": COPY_INTO_SQL,
    "src_copy_errors": COPY_ERRORS_SQL,
    "src_dml_cow": DML_COW_SQL,
    "src_delta_read": DELTA_READ_SQL,
    "src_iceberg_read": ICEBERG_READ_SQL,
    "src_delta_write": DELTA_WRITE_SQL,
    "src_iceberg_write": ICEBERG_WRITE_SQL,
    "src_delta_merge": DELTA_MERGE_SQL,
    "src_iceberg_dml": ICEBERG_DML_SQL,
    "src_iceberg_transforms": ICEBERG_TRANSFORMS_SQL,
    "src_schema_evolution": SCHEMA_EVOLUTION_SQL,
    "src_lake_metadata": LAKE_METADATA_SQL,
    "src_delta_stats_prune": DELTA_STATS_PRUNE_SQL,
}
