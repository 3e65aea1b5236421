"""Extras: external-query passthrough, time travel/rollback, ANALYZE
statistics, LISTAGG ordering/DISTINCT, HLL sketch aggregation.
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..plans.statistics import analyze_table
from ..sources.external import ExternalSource

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))


def _scratch(name: str, sf: str) -> str:
    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf)))
    d = os.path.join(_REPO, ".scratch", f"{name}-{tag}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


# --------------------------------------------------------------------------
# External query passthrough (ExternalQuery.java; JDBC pushdown rel2sql)
def external_query(spark: SparkSession, sf: str) -> DataFrame:
    src = ExternalSource(
        spark,
        "ext_rdbms",
        {
            "nation": os.path.join(sf, "nation.parquet"),
            "region": os.path.join(sf, "region.parquet"),
        },
    )
    # the remote engine resolves nation+region; the (small) result joins
    # broadcast against local fact data — the reference's federated shape
    remote = src.external_query(
        """
        select n_nationkey, r_name
        from nation join region on n_regionkey = r_regionkey
        """
    )
    cust = load(spark, sf, "customer")
    return (
        cust.join(
            F.broadcast(remote), cust.c_nationkey == remote.n_nationkey
        )
        .groupBy("r_name")
        .agg(F.count("*").alias("n_cust"))
        .orderBy("r_name")
    )


EXTERNAL_QUERY_SQL = """
select r_name, count(*) as n_cust
from customer c join nation n on c.c_nationkey = n.n_nationkey
join region r on n.n_regionkey = r.r_regionkey
group by r_name
order by r_name
"""


# --------------------------------------------------------------------------
# Time travel + rollback on an Iceberg table (TimeTravelTableMacro,
# ROLLBACK TABLE)
def time_travel(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources import lake_dml
    from ..sources.iceberg import (read_iceberg, resolve_snapshot,
                                   write_iceberg)

    t = os.path.join(_scratch("tt", sf), "part_t")
    write_iceberg(spark, load(spark, sf, "part"), t)
    snap0 = resolve_snapshot(t).snapshot_id
    ice = lake_dml.codec("iceberg")
    lake_dml.delete(ice, spark, t, "p_size > 25")
    after_delete = read_iceberg(spark, t).count()
    # time travel to the pre-delete snapshot: full original data
    at0 = read_iceberg(spark, t, snapshot_id=snap0)
    lake_dml.rollback(ice, spark, t, snap0)
    rolled = read_iceberg(spark, t)
    return (
        at0.groupBy()
        .agg(
            F.count("*").alias("n_at_snap0"),
            F.lit(after_delete).alias("n_after_delete"),
        )
        .crossJoin(rolled.groupBy().agg(F.count("*").alias("n_after_rollback")))
    )


TIME_TRAVEL_SQL = """
select count(*) as n_at_snap0,
       (select count(*) from part where not (p_size > 25)) as n_after_delete,
       count(*) as n_after_rollback
from part
"""


# --------------------------------------------------------------------------
# ANALYZE TABLE statistics (StatisticsService.java)
def analyze_stats(spark: SparkSession, sf: str) -> DataFrame:
    stats = analyze_table(
        load(spark, sf, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    )
    # oracle-checked columns: exact stats (ndv_approx asserted ±5% in tests)
    return stats.select(
        "column_name", "n_rows", "n_nulls", "ndv_exact", "min_value", "max_value"
    ).orderBy("column_name")


ANALYZE_STATS_SQL = """
with s as (
  select 'o_orderkey' as column_name, count(*) as n_rows,
         cast(sum(case when o_orderkey is null then 1 else 0 end) as bigint) as n_nulls,
         count(distinct o_orderkey) as ndv_exact,
         cast(min(o_orderkey) as varchar) as min_value,
         cast(max(o_orderkey) as varchar) as max_value
  from orders
  union all
  select 'o_custkey', count(*),
         cast(sum(case when o_custkey is null then 1 else 0 end) as bigint),
         count(distinct o_custkey),
         cast(min(o_custkey) as varchar), cast(max(o_custkey) as varchar)
  from orders
  union all
  select 'o_orderstatus', count(*),
         cast(sum(case when o_orderstatus is null then 1 else 0 end) as bigint),
         count(distinct o_orderstatus),
         cast(min(o_orderstatus) as varchar), cast(max(o_orderstatus) as varchar)
  from orders
  union all
  select 'o_totalprice', count(*),
         cast(sum(case when o_totalprice is null then 1 else 0 end) as bigint),
         count(distinct o_totalprice),
         cast(min(o_totalprice) as varchar), cast(max(o_totalprice) as varchar)
  from orders
)
select * from s order by column_name
"""


# --------------------------------------------------------------------------
# Quantile histogram statistics (the reference's t-digest column
# histograms: TDigest.java:32 via StatisticsService.java) through the
# ANALYZE TABLE statement + sys.histograms store
def histogram_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..engine import Engine

    eng = Engine(spark)
    load(spark, sf, "lineitem").createOrReplaceTempView("lineitem")
    eng.sql("ANALYZE TABLE lineitem FOR COLUMNS "
            "(l_extendedprice, l_quantity, l_discount) "
            "COMPUTE STATISTICS")
    return eng.sql(
        "select column_name, percentile, value from sys.histograms "
        "order by column_name, percentile")


HISTOGRAM_STATS_SQL = """
with q as (
  select 'l_discount' as column_name,
         quantile_disc(cast(l_discount as double),
           [0.01,0.05,0.1,0.25,0.5,0.75,0.9,0.95,0.99]) as vs
  from lineitem
  union all
  select 'l_extendedprice',
         quantile_disc(cast(l_extendedprice as double),
           [0.01,0.05,0.1,0.25,0.5,0.75,0.9,0.95,0.99])
  from lineitem
  union all
  select 'l_quantity',
         quantile_disc(cast(l_quantity as double),
           [0.01,0.05,0.1,0.25,0.5,0.75,0.9,0.95,0.99])
  from lineitem
)
select column_name,
       unnest([0.01,0.05,0.1,0.25,0.5,0.75,0.9,0.95,0.99]) as percentile,
       unnest(vs) as value
from q
order by column_name, percentile
"""


# --------------------------------------------------------------------------
# LISTAGG with WITHIN GROUP ordering + DISTINCT
# (ListAggAccumulator.java; SURVEY.md §7.2 hard part 3)
def listagg_group(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .where(F.col("o_custkey") <= 200)
        .groupBy("o_custkey")
        .agg(
            F.expr(
                "listagg(o_orderstatus, ',') within group (order by o_orderstatus)"
            ).alias("statuses"),
            F.expr(
                "listagg(distinct o_orderpriority, '|') "
                "within group (order by o_orderpriority)"
            ).alias("priorities"),
        )
        .orderBy("o_custkey")
    )


LISTAGG_GROUP_SQL = """
select o_custkey,
       string_agg(o_orderstatus, ',' order by o_orderstatus) as statuses,
       string_agg(distinct o_orderpriority, '|' order by o_orderpriority) as priorities
from orders
where o_custkey <= 200
group by o_custkey
order by o_custkey
"""


# --------------------------------------------------------------------------
# HLL sketch agg/merge/estimate (HyperLogLog.java HLL/HLL_MERGE/HLL_DECODE)
# — sketch bytes are engine-specific, so the oracle-checked output is the
# exact NDV plus a boolean asserting the merged-sketch estimate lands
# within the sketch's error bound; the raw estimate stays in pytest.
def hll_sketch(spark: SparkSession, sf: str) -> DataFrame:
    cust = load(spark, sf, "customer")
    per_nation = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey").alias("sk")
    )
    merged = per_nation.groupBy().agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count("*").alias("n_nations"),
    )
    exact = cust.groupBy().agg(F.count_distinct("c_custkey").alias("ndv_exact"))
    return merged.crossJoin(exact).select(
        "ndv_exact",
        "n_nations",
        (
            F.abs(F.col("est") - F.col("ndv_exact"))
            <= 0.05 * F.col("ndv_exact")
        ).alias("est_within_5pct"),
    )


HLL_SKETCH_SQL = """
select count(distinct c_custkey) as ndv_exact,
       count(distinct c_nationkey) as n_nations,
       true as est_within_5pct
from customer
"""


def jdbc_gate_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """ARP pushdown through the capability-gated JDBC execution path:
    the source is configured with a JDBC endpoint + driver class; when
    the driver resolves in the JVM the rendered SQL ships over real
    `spark.read.format('jdbc')`, otherwise the emulated engine runs the
    same statement — values are identical either way and the chosen
    path is recorded (asserted non-None) exactly as the reference's
    JDBC plugin is inert without its driver jar."""
    src = ExternalSource(
        spark, "ext_jdbc",
        {"orders": os.path.join(sf, "orders.parquet")},
        jdbc_url="jdbc:duckdb:", jdbc_driver="org.duckdb.DuckDBDriver")
    df = src.read(
        "orders",
        predicate="o_orderkey <= 1000",
        aggregate=(["o_orderpriority"],
                   {"n": "count(*)",
                    "total": ("cast(sum(cast(o_totalprice as "
                              "decimal(18,2))) as double)")}),
    )
    assert src.last_execution_path in ("jdbc", "emulated:driver-missing"), \
        src.last_execution_path
    assert "group by o_orderpriority" in src.last_pushed_sql
    return df.orderBy("o_orderpriority")


JDBC_GATE_SQL = """
select o_orderpriority, count(*) as n,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double) as total
from orders
where o_orderkey <= 1000
group by o_orderpriority
order by o_orderpriority
"""


def jdbc_postgres_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """Federated pushdown through the POSTGRES ARP dialect (the
    reference's most common RDBMS target; declarative descriptor per
    common/dialect/arp/ + DremioRelToSqlConverter.java): the aggregate
    ships whole with double-quoted identifiers and stddev rendered as
    stddev_samp, while MEDIAN — absent from PostgreSQL's plain
    aggregates — degrades the pushdown to scan + local aggregation."""
    from ..sources.arp import POSTGRES_DIALECT

    src = ExternalSource(
        spark, "ext_pg",
        {"orders": os.path.join(sf, "orders.parquet")},
        dialect=POSTGRES_DIALECT)
    df = src.read(
        "orders",
        predicate="o_orderkey <= 1000",
        aggregate=(["o_orderpriority"],
                   {"n": "count(*)",
                    "sd": ("cast(stddev(cast(o_totalprice as "
                           "decimal(18,2))) as double)")}))
    assert src.last_pushdown_level == "aggregate", src.last_pushdown_level
    assert 'group by "o_orderpriority"' in src.last_pushed_sql
    assert "stddev_samp(" in src.last_pushed_sql
    # degrade control: MEDIAN stays local, scan ships
    src.read("orders", predicate="o_orderkey <= 1000",
             aggregate=(["o_orderpriority"],
                        {"med": "median(o_totalprice)"}))
    assert src.last_pushdown_level == "scan", src.last_pushdown_level
    assert "median" not in src.last_pushed_sql
    return df.orderBy("o_orderpriority")


JDBC_POSTGRES_SQL = """
select o_orderpriority, count(*) as n,
       cast(stddev_samp(cast(o_totalprice as decimal(18,2))) as double)
         as sd
from orders
where o_orderkey <= 1000
group by o_orderpriority
order by o_orderpriority
"""


EXTRAS_QUERIES = {
    "ext_external_query": external_query,
    "ext_jdbc_pushdown": jdbc_gate_pushdown,
    "ext_jdbc_postgres": jdbc_postgres_pushdown,
    "src_time_travel": time_travel,
    "stats_analyze": analyze_stats,
    "stats_histogram": histogram_stats,
    "op_listagg_group": listagg_group,
    "op_hll_sketch": hll_sketch,
}

EXTRAS_ORACLE = {
    "ext_external_query": EXTERNAL_QUERY_SQL,
    "ext_jdbc_pushdown": JDBC_GATE_SQL,
    "ext_jdbc_postgres": JDBC_POSTGRES_SQL,
    "src_time_travel": TIME_TRAVEL_SQL,
    "stats_analyze": ANALYZE_STATS_SQL,
    "stats_histogram": HISTOGRAM_STATS_SQL,
    "op_listagg_group": LISTAGG_GROUP_SQL,
    "op_hll_sketch": HLL_SKETCH_SQL,
}
