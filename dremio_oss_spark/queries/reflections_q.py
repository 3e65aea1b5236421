"""Reflection substitution queries: results must be identical whether the
optimizer answers from the base table or the materialization.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load
from ..plans import AggQuery, JoinSpec, Measure, ReflectionStore
from ..localframe import meta_df

_REPO = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))

MEASURES = [
    Measure("sum", "l_quantity"),
    Measure("sum", "l_extendedprice"),
    Measure("count", "*"),
    Measure("min", "l_shipdate"),
    Measure("max", "l_shipdate"),
]


def _store(spark: SparkSession, sf: str) -> ReflectionStore:
    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf)))
    return ReflectionStore(spark, os.path.join(_REPO, ".scratch", f"refl-{tag}"))


def agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Query answered FROM THE REFLECTION (asserted), rolled up from
    (returnflag, linestatus) partials to returnflag grain."""
    store = _store(spark, sf)
    li = load(spark, sf, "lineitem")
    store.create_aggregation_reflection(
        "li_by_flag_status",
        li,
        table="lineitem",
        dims=["l_returnflag", "l_linestatus"],
        measures=MEASURES,
        watermark_col="l_orderkey",
    )
    q = AggQuery(
        table="lineitem",
        dims=("l_returnflag",),
        measures=(
            Measure("sum", "l_quantity"),
            Measure("count", "*"),
            Measure("min", "l_shipdate"),
        ),
        filters=("l_linestatus = 'F'",),
    )
    df, substituted = store.execute(q, li)
    assert substituted, "reflection substitution did not fire"
    from pyspark.sql import functions as F

    # decimal-exact internally; pin the emitted sum to double for the
    # cross-engine hash (DuckDB fetchdf renders DECIMAL as float64)
    return df.withColumn(
        "sum_l_quantity", F.col("sum_l_quantity").cast("double")
    ).orderBy("l_returnflag")


AGG_ROLLUP_SQL = """
select l_returnflag,
       cast(sum(cast(l_quantity as decimal(28,4))) as double) as sum_l_quantity,
       count(*) as count_all,
       min(l_shipdate) as min_l_shipdate
from lineitem
where l_linestatus = 'F'
group by l_returnflag
order by l_returnflag
"""


def incremental(spark: SparkSession, sf: str) -> DataFrame:
    """Split-source incremental refresh must equal a one-shot full build."""
    from pyspark.sql import functions as F

    store = _store(spark, sf)
    li = load(spark, sf, "lineitem")
    cutoff = li.approxQuantile("l_orderkey", [0.5], 0.01)[0]
    store.create_aggregation_reflection(
        "li_incr",
        li.where(F.col("l_orderkey") <= cutoff),
        table="lineitem",
        dims=["l_returnflag"],
        measures=[Measure("sum", "l_quantity"), Measure("count", "*")],
        watermark_col="l_orderkey",
    )
    n = store.incremental_refresh("li_incr", li)
    assert n > 0, "incremental refresh processed no rows"
    q = AggQuery(
        table="lineitem",
        dims=("l_returnflag",),
        measures=(Measure("sum", "l_quantity"), Measure("count", "*")),
    )
    df, substituted = store.execute(q, li)
    assert substituted
    return df.withColumn(
        "sum_l_quantity", F.col("sum_l_quantity").cast("double")
    ).orderBy("l_returnflag")


INCREMENTAL_SQL = """
select l_returnflag,
       cast(sum(cast(l_quantity as decimal(28,4))) as double) as sum_l_quantity,
       count(*) as count_all
from lineitem
group by l_returnflag
order by l_returnflag
"""


def join_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Star-join reflection (lineitem ⋈ supplier) answering a sub-star
    query FROM THE MATERIALIZATION (asserted) — the first join-tree
    matching case of SubstitutionProvider.java:40: the reflection's join
    tree covers the query's, dims/measures roll up."""
    from pyspark.sql import functions as F

    store = _store(spark, sf)
    li = load(spark, sf, "lineitem")
    supp = load(spark, sf, "supplier")
    star = [JoinSpec("supplier", "l_suppkey", "s_suppkey")]
    store.create_aggregation_reflection(
        "li_by_nation_flag",
        li,
        table="lineitem",
        dims=["s_nationkey", "l_returnflag"],
        measures=[
            Measure("sum", "l_extendedprice"),
            Measure("count", "*"),
        ],
        joins=star,
        dim_sources={"supplier": supp},
    )
    q = AggQuery(
        table="lineitem",
        dims=("s_nationkey",),
        measures=(Measure("sum", "l_extendedprice"), Measure("count", "*")),
        filters=("l_returnflag = 'R'",),
        joins=tuple(star),
    )
    df, substituted = store.execute(q, li, dim_sources={"supplier": supp})
    assert substituted, "star-join reflection substitution did not fire"
    return df.withColumn(
        "sum_l_extendedprice", F.col("sum_l_extendedprice").cast("double")
    ).orderBy("s_nationkey")


JOIN_ROLLUP_SQL = """
select s_nationkey,
       cast(sum(cast(l_extendedprice as decimal(28,4))) as double) as sum_l_extendedprice,
       count(*) as count_all
from lineitem join supplier on l_suppkey = s_suppkey
where l_returnflag = 'R'
group by s_nationkey
order by s_nationkey
"""


def filter_subsumption(spark: SparkSession, sf: str) -> DataFrame:
    """PARTIAL reflection (built over WHERE l_shipdate >= 1996) answers a
    query whose filter IMPLIES the materialization predicate; a wider
    query must fall back to the base table (negative control asserted)."""
    from pyspark.sql import functions as F

    store = _store(spark, sf)
    li = load(spark, sf, "lineitem")
    store.create_aggregation_reflection(
        "li_recent",
        li,
        table="lineitem",
        dims=["l_returnflag", "l_shipdate"],
        measures=[Measure("sum", "l_quantity"), Measure("count", "*")],
        filters=["l_shipdate >= '1996-01-01'"],
    )
    q = AggQuery(
        table="lineitem",
        dims=("l_returnflag",),
        measures=(Measure("sum", "l_quantity"), Measure("count", "*")),
        filters=("l_shipdate >= '1997-01-01'",),
    )
    df, substituted = store.execute(q, li)
    assert substituted, "implied filter did not substitute"
    wider = AggQuery(
        table="lineitem",
        dims=("l_returnflag",),
        measures=(Measure("sum", "l_quantity"),),
        filters=("l_shipdate >= '1995-01-01'",),
    )
    assert store.find_match(wider) is None, "uncovered filter substituted"
    return df.withColumn(
        "sum_l_quantity", F.col("sum_l_quantity").cast("double")
    ).orderBy("l_returnflag")


FILTER_SUBSUMPTION_SQL = """
select l_returnflag,
       cast(sum(cast(l_quantity as decimal(28,4))) as double) as sum_l_quantity,
       count(*) as count_all
from lineitem
where l_shipdate >= '1997-01-01'
group by l_returnflag
order by l_returnflag
"""



def transparent_sql(spark: SparkSession, sf: str) -> DataFrame:
    """The acceleration UX end-to-end through Engine.sql: reflections
    DDL creates the materialization, then a PLAIN SQL aggregate silently
    answers from it (transparent substitution is asserted) — the
    reference's SubstitutionProvider behavior as a user sees it."""
    from pyspark.sql import functions as F

    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_accel "
        "USING DIMENSIONS (l_returnflag, l_linestatus) "
        "MEASURES (l_quantity (SUM), l_orderkey (COUNT))")
    df = eng.sql(
        "select l_returnflag, sum(l_quantity) as qty_sum, "
        "count(l_orderkey) as n from lineitem "
        "where l_linestatus = 'O' group by l_returnflag "
        "order by l_returnflag")
    assert eng.last_plan_accelerated == "t_accel", "substitution missed"
    return df.withColumn("qty_sum", F.col("qty_sum").cast("double"))


TRANSPARENT_SQL_SQL = """
select l_returnflag,
       cast(sum(cast(l_quantity as decimal(28,4))) as double) as qty_sum,
       count(*) as n
from lineitem
where l_linestatus = 'O'
group by l_returnflag
order by l_returnflag
"""


def transparent_join(spark: SparkSession, sf: str) -> DataFrame:
    """Plan-tree substitution for a JOIN query in plain SQL: a star
    reflection (lineitem ⋈ supplier) declared entirely through DDL
    (JOINS clause), then a user join query silently answers from the
    materialization — the tree-level matching of
    SubstitutionProvider.java:40.  Substitution AND the
    materialization scan are asserted."""
    from pyspark.sql import functions as F

    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_star "
        "USING DIMENSIONS (s_nationkey, l_returnflag) "
        "MEASURES (l_extendedprice (SUM), l_orderkey (COUNT)) "
        "JOINS (supplier ON l_suppkey = s_suppkey)")
    df = eng.sql(
        "select s_nationkey, sum(l_extendedprice) as rev, "
        "count(l_orderkey) as n "
        "from lineitem join supplier on l_suppkey = s_suppkey "
        "where l_returnflag = 'R' group by s_nationkey "
        "order by s_nationkey")
    assert eng.last_plan_accelerated == "t_star", "join substitution missed"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "t_star" in plan, "not scanning the materialization"
    return df.withColumn("rev", F.col("rev").cast("double"))


TRANSPARENT_JOIN_SQL = """
select s_nationkey,
       cast(sum(cast(l_extendedprice as decimal(28,4))) as double) as rev,
       count(*) as n
from lineitem join supplier on l_suppkey = s_suppkey
where l_returnflag = 'R'
group by s_nationkey
order by s_nationkey
"""


def transparent_vds(spark: SparkSession, sf: str) -> DataFrame:
    """Plan-tree substitution THROUGH a view: the user queries a VDS
    defined as the star join; analysis expands the view, the expanded
    tree matches the reflection, and the VDS's join never re-executes —
    the reference's view-acceleration UX (reflections anchored on
    virtual datasets)."""
    from pyspark.sql import functions as F

    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE orders CREATE AGGREGATE REFLECTION o_cust "
        "USING DIMENSIONS (c_mktsegment, o_orderpriority) "
        "MEASURES (o_totalprice (SUM), o_orderkey (COUNT)) "
        "JOINS (customer ON o_custkey = c_custkey)")
    spark.sql(
        "select c_mktsegment as segment, o_orderpriority as prio, "
        "o_totalprice as price, o_orderkey as okey "
        "from orders join customer on o_custkey = c_custkey"
    ).createOrReplaceTempView("order_facts_vds")
    df = eng.sql(
        "select segment, sum(price) as total, count(okey) as n "
        "from order_facts_vds where prio = '1-URGENT' "
        "group by segment order by segment")
    assert eng.last_plan_accelerated == "o_cust", "VDS substitution missed"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "o_cust" in plan, "not scanning the materialization"
    return df.withColumn("total", F.col("total").cast("double"))


TRANSPARENT_VDS_SQL = """
select c_mktsegment as segment,
       cast(sum(cast(o_totalprice as decimal(28,4))) as double) as total,
       count(*) as n
from orders join customer on o_custkey = c_custkey
where o_orderpriority = '1-URGENT'
group by c_mktsegment
order by segment
"""


def transparent_raw(spark: SparkSession, sf: str) -> DataFrame:
    """RAW reflection substitution through plain SQL: a narrow sorted
    copy (DISPLAY columns + LOCALSORT) answers a non-aggregate
    projection+filter query — the scan swap of the reference's raw
    reflections (ReflectionServiceImpl.java), now matched on the plan
    tree instead of requiring the store API."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE RAW REFLECTION t_raw "
        "USING DISPLAY (l_orderkey, l_quantity, l_shipdate) "
        "LOCALSORT BY (l_shipdate)")
    df = eng.sql(
        "select l_orderkey, l_quantity as qty from lineitem "
        "where l_shipdate >= '1998-06-01' "
        "order by l_orderkey, l_quantity")
    assert eng.last_plan_accelerated == "t_raw", "raw substitution missed"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "t_raw" in plan, "not scanning the raw materialization"
    return df


TRANSPARENT_RAW_SQL = """
select l_orderkey, l_quantity as qty
from lineitem
where l_shipdate >= '1998-06-01'
order by l_orderkey, l_quantity
"""


def transparent_cdistinct(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT dim) through transparent substitution: the
    reflection carries the column at dim grain, so the distinct count
    computes from the materialization — with a rollup measure beside it
    and the output cast preserved for dtype parity."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE orders CREATE AGGREGATE REFLECTION t_cd "
        "USING DIMENSIONS (o_orderpriority, o_orderdate) "
        "MEASURES (o_totalprice (SUM), o_orderkey (COUNT))")
    df = eng.sql(
        "select o_orderpriority, count(distinct o_orderdate) as n_days, "
        "count(o_orderkey) as n, "
        "cast(sum(o_totalprice) as double) as total "
        "from orders group by o_orderpriority order by o_orderpriority")
    assert eng.last_plan_accelerated == "t_cd", "cdistinct subst missed"
    return df


TRANSPARENT_CDISTINCT_SQL = """
select o_orderpriority,
       count(distinct o_orderdate) as n_days,
       count(*) as n,
       cast(sum(cast(o_totalprice as decimal(28,4))) as double) as total
from orders
group by o_orderpriority
order by o_orderpriority
"""


def transparent_avg(spark: SparkSession, sf: str) -> DataFrame:
    """AVG through transparent substitution: the matcher REDUCES avg(x)
    to sum(x)/count(x) before matching (the reference's
    DremioAggregateReduceFunctionsRule, PlannerPhase.java:624), so the
    canonical `avg(measure) by dim` rollup answers from a reflection
    carrying SUM+COUNT partials.  count(x) is null-aware per-column.
    Soundness: avg over a measure the reflection lacks falls through."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_avg "
        "USING DIMENSIONS (l_returnflag, l_linestatus) "
        "MEASURES (l_quantity (SUM, COUNT))")
    df = eng.sql(
        "select l_returnflag, avg(l_quantity) as avg_qty, "
        "count(l_quantity) as n from lineitem "
        "where l_linestatus = 'F' group by l_returnflag "
        "order by l_returnflag")
    assert eng.last_plan_accelerated == "t_avg", "avg substitution missed"
    eng.sql(  # negative control: no count(l_extendedprice) partial
        "select l_returnflag, avg(l_extendedprice) as a "
        "from lineitem group by l_returnflag")
    assert eng.last_plan_accelerated is None, "unsound avg substitution"
    return df


# the oracle mirrors the materialization arithmetic exactly: decimal-
# exact sum cast to double, divided by the null-aware count (identical
# IEEE operands on both engines)
TRANSPARENT_AVG_SQL = """
select l_returnflag,
       cast(sum(cast(l_quantity as decimal(28,4))) as double)
         / count(l_quantity) as avg_qty,
       count(l_quantity) as n
from lineitem
where l_linestatus = 'F'
group by l_returnflag
order by l_returnflag
"""


def transparent_sumdistinct(spark: SparkSession, sf: str) -> DataFrame:
    """SUM/AVG(DISTINCT col) and COUNT(DISTINCT <temporal expr>)
    through transparent substitution, plus HAVING over a distinct agg:
    all re-derive from a reflection storing the base column at DIM
    grain — the distinct value set inside each query group equals the
    distinct dim values of the matching rollup cells, so sum_distinct/
    countDistinct (and their ratio for AVG(DISTINCT)) over the
    materialization is exact, and the HAVING conjunct re-applies
    post-rollup against the same recomputed value.  count(distinct
    year(d)) computes from day-grain d the same way expression dims do.
    Soundness controls: a distinct agg whose base column the reflection
    lacks falls through; a non-temporal expression under DISTINCT
    falls through."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_sd "
        "USING DIMENSIONS (l_returnflag, l_quantity, l_shipdate) "
        "MEASURES (l_orderkey (COUNT))")
    df = eng.sql(
        "select l_returnflag, sum(distinct l_quantity) as sdq, "
        "avg(distinct l_quantity) as adq, "
        "count(distinct year(l_shipdate)) as ny, "
        "count(l_orderkey) as n from lineitem "
        "group by l_returnflag "
        "having count(distinct year(l_shipdate)) >= 1 "
        "order by l_returnflag")
    assert eng.last_plan_accelerated == "t_sd", \
        "sum-distinct substitution missed"
    # control: base column not a reflection dim -> fall through
    eng.sql("select l_returnflag, sum(distinct l_extendedprice) as s "
            "from lineitem group by l_returnflag")
    assert eng.last_plan_accelerated is None, \
        "unsound distinct substitution (missing dim)"
    # control: non-temporal expression under DISTINCT refuses
    eng.sql("select l_returnflag, sum(distinct l_quantity + 1) as s "
            "from lineitem group by l_returnflag")
    assert eng.last_plan_accelerated is None, \
        "unsound distinct substitution (expression arg)"
    return df


TRANSPARENT_SUMDISTINCT_SQL = """
select l_returnflag,
       sum(distinct l_quantity) as sdq,
       avg(distinct l_quantity) as adq,
       count(distinct year(l_shipdate)) as ny,
       count(l_orderkey) as n
from lineitem
group by l_returnflag
having count(distinct year(l_shipdate)) >= 1
order by l_returnflag
"""


def transparent_leftjoin(spark: SparkSession, sf: str) -> DataFrame:
    """LEFT OUTER star substitution: a reflection declaring a LEFT join
    edge (JOINS (LEFT dim ON ...)) accelerates the canonical
    `fact LEFT JOIN dim` BI rollup — null-extended dim rows group like
    any other dim value, so the rollup algebra is unchanged.  Mirrors
    the reference's outer-join materialization matching
    (SubstitutionProvider.java:40, normalization
    PlannerPhase.java:145-169).  Soundness controls: (a) a WHERE on a
    nullable-side column falls through (post-rollup it would drop
    null-extended groups the query's own left join keeps); (b) an INNER
    query join never matches the LEFT reflection edge."""
    from pyspark.sql import functions as F

    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE orders CREATE AGGREGATE REFLECTION t_lj "
        "USING DIMENSIONS (c_mktsegment, o_orderpriority) "
        "MEASURES (o_totalprice (SUM), o_orderkey (COUNT)) "
        "JOINS (LEFT customer ON o_custkey = c_custkey)")
    df = eng.sql(
        "select c_mktsegment, sum(o_totalprice) as rev, "
        "count(o_orderkey) as n "
        "from orders left join customer on o_custkey = c_custkey "
        "where o_orderpriority = '1-URGENT' group by c_mktsegment "
        "order by c_mktsegment")
    assert eng.last_plan_accelerated == "t_lj", \
        "left-join substitution missed"
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "t_lj" in plan, "not scanning the materialization"
    # control (a): WHERE on the nullable dim side must fall through
    eng.sql(
        "select o_orderpriority, sum(o_totalprice) as rev "
        "from orders left join customer on o_custkey = c_custkey "
        "where c_mktsegment = 'BUILDING' group by o_orderpriority")
    assert eng.last_plan_accelerated is None, \
        "unsound left-join substitution (nullable-side filter)"
    # control (b): an inner query join must not match the LEFT edge
    eng.sql(
        "select c_mktsegment, sum(o_totalprice) as rev "
        "from orders join customer on o_custkey = c_custkey "
        "group by c_mktsegment")
    assert eng.last_plan_accelerated is None, \
        "unsound left-join substitution (inner vs left edge)"
    return df.withColumn("rev", F.col("rev").cast("double"))


TRANSPARENT_LEFTJOIN_SQL = """
select c_mktsegment,
       cast(sum(cast(o_totalprice as decimal(28,4))) as double) as rev,
       count(o_orderkey) as n
from orders left join customer on o_custkey = c_custkey
where o_orderpriority = '1-URGENT'
group by c_mktsegment
order by c_mktsegment
"""


def transparent_exprdim(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal-expression group keys through transparent substitution:
    `group by year(o_orderdate)` answers from a reflection carrying the
    date at DAY grain — the matcher re-applies the expression over the
    materialization at rollup (the reference's expression-dim
    normalization, MaterializationExpander / PlannerPhase.java:145-169).
    Soundness: a filter column outside the reflection falls through."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE orders CREATE AGGREGATE REFLECTION t_exprdim "
        "USING DIMENSIONS (o_orderdate, o_orderpriority) "
        "MEASURES (o_totalprice (SUM), o_orderkey (COUNT))")
    df = eng.sql(
        "select year(o_orderdate) as yr, "
        "cast(sum(o_totalprice) as double) as total, "
        "count(o_orderkey) as n "
        "from orders where o_orderpriority = '1-URGENT' "
        "group by year(o_orderdate) order by yr")
    assert eng.last_plan_accelerated == "t_exprdim", \
        "expression-dim substitution missed"
    eng.sql(  # negative control: o_orderstatus is not a reflection dim
        "select year(o_orderdate) as yr, count(o_orderkey) as n "
        "from orders where o_orderstatus = 'F' "
        "group by year(o_orderdate)")
    assert eng.last_plan_accelerated is None, "unsound expr-dim subst"
    return df


TRANSPARENT_EXPRDIM_SQL = """
select year(o_orderdate) as yr,
       cast(sum(cast(o_totalprice as decimal(28,4))) as double) as total,
       count(o_orderkey) as n
from orders
where o_orderpriority = '1-URGENT'
group by year(o_orderdate)
order by yr
"""


def transparent_exprmeasure(spark: SparkSession, sf: str) -> DataFrame:
    """EXPRESSION measures: a reflection declaring the TPC-H revenue
    expression `(l_extendedprice * (1 - l_discount)) (SUM)` answers
    `sum(l_extendedprice * (1 - l_discount))` transparently — both
    sides canonicalize through the same analyzed-tree walker, so
    coercion casts and literal renderings match by construction.
    Soundness: a query over a DIFFERENT expression falls through."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_rev "
        "USING DIMENSIONS (l_returnflag, l_linestatus) "
        "MEASURES ((l_extendedprice * (1 - l_discount)) (SUM), "
        "l_orderkey (COUNT))")
    df = eng.sql(
        "select l_returnflag, "
        "cast(sum(l_extendedprice * (1 - l_discount)) as double) "
        "as revenue, count(l_orderkey) as n "
        "from lineitem where l_linestatus = 'F' "
        "group by l_returnflag order by l_returnflag")
    assert eng.last_plan_accelerated == "t_rev", \
        "expression-measure substitution missed"
    eng.sql(  # negative control: (1 + disc) is a different expression
        "select l_returnflag, sum(l_extendedprice * (1 + l_discount)) "
        "as x from lineitem group by l_returnflag")
    assert eng.last_plan_accelerated is None, "unsound expr-measure subst"
    return df


TRANSPARENT_EXPRMEASURE_SQL = """
select l_returnflag,
       cast(sum(cast(l_extendedprice * (1 - l_discount)
                     as decimal(28,4))) as double) as revenue,
       count(l_orderkey) as n
from lineitem
where l_linestatus = 'F'
group by l_returnflag
order by l_returnflag
"""


def path_anchored(spark: SparkSession, sf: str) -> DataFrame:
    """Reflection anchored on a PHYSICAL Delta table (the reference's
    primary acceleration case): `ALTER TABLE '<path>' ...` DDL, plain
    SQL over the quoted path answers from the materialization, and an
    engine DML commit marks it stale and auto-refreshes via the SIGNED
    change-feed fold — the post-DELETE query is fresh AND accelerated."""
    import shutil

    from ..catalog import load
    from ..engine import Engine
    from ..sources.delta import write_delta

    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf)))
    t = os.path.join(_REPO, ".scratch", f"refl_path_{tag}")
    shutil.rmtree(t, ignore_errors=True)
    li = load(spark, sf, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity")
    write_delta(spark, li, t, enable_cdf=True)
    eng = Engine(spark)
    eng.sql(f"ALTER TABLE '{t}' CREATE AGGREGATE REFLECTION p_li "
            "USING DIMENSIONS (l_returnflag, l_linestatus) "
            "MEASURES (l_quantity (SUM, COUNT))")
    q = (f"select l_returnflag, "
         "cast(sum(l_quantity) as double) as s, "
         f"count(l_quantity) as n from '{t}' "
         "group by l_returnflag order by l_returnflag")
    eng.sql(q)
    assert eng.last_plan_accelerated == "p_li", "path substitution missed"
    eng.sql(f"delete from '{t}' where l_quantity > 45")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "p_li", \
        "post-commit substitution missed (freshness path broken)"
    return df


def transparent_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY ROLLUP through transparent substitution: the analyzer's
    Expand/grouping-id plan is canonicalized to (grouping set, presence
    mask) pairs and each set answers as its own rollup of the
    materialization, unioned — subtotal and grand-total rows included
    (the rollup handling of the reference's MaterializationExpander,
    PlannerPhase.java:145-169).  Controls: a grouping() indicator
    output and a rollup over a non-dim column both fall through."""
    from pyspark.sql import functions as F

    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_gs "
        "USING DIMENSIONS (l_returnflag, l_linestatus) "
        "MEASURES (l_quantity (SUM), l_orderkey (COUNT))")
    df = eng.sql(
        "select l_returnflag, l_linestatus, "
        "grouping(l_linestatus) as g, grouping_id() as gid, "
        "sum(l_quantity) as s, count(l_orderkey) as n "
        "from lineitem group by rollup(l_returnflag, l_linestatus)")
    assert eng.last_plan_accelerated == "t_gs", \
        "rollup substitution missed"
    # control: non-dim rollup column refuses
    eng.sql("select l_shipdate, count(l_orderkey) as n from lineitem "
            "group by rollup(l_shipdate)")
    assert eng.last_plan_accelerated is None, \
        "unsound non-dim rollup substitution"
    # decimal-exact emitted sum for the cross-engine hash
    return df.select(
        "l_returnflag", "l_linestatus",
        F.col("g").cast("bigint").alias("g"),
        F.col("gid").cast("bigint").alias("gid"),
        F.round(F.col("s").cast("double"), 2).alias("s"), "n")


TRANSPARENT_ROLLUP_SQL = """
select l_returnflag, l_linestatus,
       cast(grouping(l_linestatus) as bigint) as g,
       cast(grouping(l_returnflag) * 2 + grouping(l_linestatus)
            as bigint) as gid,
       round(cast(sum(cast(l_quantity as decimal(18,2))) as double), 2)
         as s,
       count(l_orderkey) as n
from lineitem
group by rollup(l_returnflag, l_linestatus)
"""


def transparent_ratio(spark: SparkSession, sf: str) -> DataFrame:
    """POST-AGGREGATION ARITHMETIC through transparent substitution:
    ratio-of-sums and literal-scaled counts (the BI KPI shape —
    sum(a)/sum(b), 100*count(x)) re-apply over the rollup's
    re-aggregated partials; every aggregate leaf rolls up even when the
    expression is the only place it appears.  The reflection's sum
    partials are decimal-exact, so the emitted double ratio matches the
    oracle's decimal arithmetic bit-for-bit.  A CASE WHEN inside
    the expression also splices (value-checked against the base plan)."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_ratio "
        "USING DIMENSIONS (l_returnflag) "
        "MEASURES (l_quantity (SUM), l_extendedprice (SUM), "
        "l_orderkey (COUNT))")
    df = eng.sql(
        "select l_returnflag, "
        "cast(sum(l_extendedprice) as double) "
        "/ cast(sum(l_quantity) as double) as ratio, "
        "100 * count(l_orderkey) as pct from lineitem "
        "group by l_returnflag order by l_returnflag")
    assert eng.last_plan_accelerated == "t_ratio", \
        "post-aggregation arithmetic substitution missed"
    # CASE WHEN inside the expression now SPLICES (the guarded-ratio
    # shape; see refl_transparent_caseagg) — must substitute AND match
    qc = ("select l_returnflag, sum(l_extendedprice) * "
          "(case when count(*) > 0 then 1 else 0 end) as x "
          "from lineitem group by l_returnflag")
    got_c = eng.sql(qc)
    assert eng.last_plan_accelerated == "t_ratio", \
        "CASE post-agg substitution missed"
    base_c = {r["l_returnflag"]: float(r["x"])
              for r in spark.sql(qc).collect()}
    for r in got_c.collect():
        b = base_c[r["l_returnflag"]]
        assert abs(float(r["x"]) - b) < 1e-9 * max(1.0, abs(b))
    return df


TRANSPARENT_RATIO_SQL = """
select l_returnflag,
       cast(sum(cast(l_extendedprice as decimal(28,4))) as double)
         / cast(sum(cast(l_quantity as decimal(28,4))) as double)
         as ratio,
       cast(100 * count(l_orderkey) as bigint) as pct
from lineitem
group by l_returnflag
order by l_returnflag
"""


PATH_ANCHORED_SQL = """
select l_returnflag,
       cast(sum(cast(l_quantity as decimal(28,4))) as double) as s,
       count(l_quantity) as n
from lineitem
where l_quantity <= 45
group by l_returnflag
order by l_returnflag
"""


def transparent_purefn(spark: SparkSession, sf: str) -> DataFrame:
    """Pure-function expression dims + ORDER BY/LIMIT substitution: a
    whitelisted deterministic scalar function (substring/upper/lower/
    trim/length/abs/floor/ceil) over a stored dim column re-applies
    over the materialization — re-grouping rollup cells by f(col)
    merges exactly the base query's groups.  Also exercises
    COUNT/SUM(DISTINCT f(col)) over the same stored grain, HAVING on an
    expression dim (rendered against its position-stable `__e{i}`
    rollup alias), and LIMIT after ORDER BY (the BI top-N shape, which
    previously fell through unconditionally).  Mirrors the expression
    normalization of the reference's MaterializationExpander
    (PlannerPhase.java:145-169).  Controls: a nested expression under
    the fn and AVG(DISTINCT f(col)) both fall through."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE customer CREATE AGGREGATE REFLECTION t_pf "
        "USING DIMENSIONS (c_mktsegment, c_name, c_acctbal) "
        "MEASURES (c_custkey (COUNT))")
    df = eng.sql(
        "select substring(c_name, 1, 12) as pref, "
        "count(distinct floor(c_acctbal)) as nfb, "
        "cast(sum(distinct length(c_name)) as bigint) as sl, "
        "count(c_custkey) as n from customer "
        "group by substring(c_name, 1, 12) "
        "having substring(c_name, 1, 12) >= 'Customer#000' "
        "order by pref limit 10")
    assert eng.last_plan_accelerated == "t_pf", \
        "pure-fn expression dim substitution missed"
    # control: nested expression under the fn refuses
    eng.sql("select upper(substring(c_name, 1, 3)) as p, "
            "count(c_custkey) as n from customer "
            "group by upper(substring(c_name, 1, 3))")
    assert eng.last_plan_accelerated is None, \
        "unsound nested expression dim substitution"
    # control: avg(distinct f(col)) refuses (fn dtype unknowable)
    eng.sql("select c_mktsegment, avg(distinct abs(c_acctbal)) as a "
            "from customer group by c_mktsegment")
    assert eng.last_plan_accelerated is None, \
        "unsound avg(distinct expression) substitution"
    return df


TRANSPARENT_PUREFN_SQL = """
select substring(c_name, 1, 12) as pref,
       count(distinct floor(c_acctbal)) as nfb,
       cast(sum(distinct length(c_name)) as bigint) as sl,
       count(c_custkey) as n
from customer
group by substring(c_name, 1, 12)
having substring(c_name, 1, 12) >= 'Customer#000'
order by pref
limit 10
"""


def transparent_ndv(spark: SparkSession, sf: str) -> DataFrame:
    """NDV()/approx_count_distinct acceleration from an APPROXIMATE
    COUNT DISTINCT reflection measure — the reference's HLL-partial
    reflections (measure grammar `(APPROXIMATE|APPROX) COUNT DISTINCT`,
    alter.ftl:528; MeasureType.APPROX_COUNT_DISTINCT,
    SqlCreateReflection.java:316; NDV rewrite HyperLogLog.java:28).
    The materialization stores a mergeable DataSketches HLL binary per
    cell; the substituted plan unions sketches to the query grain and
    estimates once.  At this column's cardinality (25 nations) the
    sketch is in its exact range, so the value equals exact
    COUNT(DISTINCT) — the oracle below.  Second shape: NDV over a
    STORED DIM answers from the dim grain (identical distinct set ⇒
    bit-identical HLL++ estimate to the unaccelerated plan — asserted).
    Soundness controls: NDV over an uncovered column and a non-default
    relativeSD both fall through."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE customer CREATE AGGREGATE REFLECTION t_ndv "
        "USING DIMENSIONS (c_mktsegment) "
        "MEASURES (c_nationkey (APPROXIMATE COUNT DISTINCT), "
        "c_acctbal (SUM, COUNT))")
    df = eng.sql(
        "select c_mktsegment, ndv(c_nationkey) as ndv_nation, "
        "count(*) as n from customer group by c_mktsegment "
        "order by c_mktsegment")
    assert eng.last_plan_accelerated == "t_ndv", \
        "ndv sketch substitution missed"
    # dim-grain shape: no sketch measure, ndv column is a stored dim —
    # the HLL++ estimate over the rollup cells is bit-identical to the
    # unaccelerated plan (same distinct set, same default rsd)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION t_ndv_dim "
            "USING DIMENSIONS (o_orderpriority, o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    d2 = eng.sql("select o_orderpriority, ndv(o_orderstatus) as ndv_st "
                 "from orders group by o_orderpriority "
                 "order by o_orderpriority")
    assert eng.last_plan_accelerated == "t_ndv_dim", \
        "ndv dim-grain substitution missed"
    base2 = spark.sql(
        "select o_orderpriority, approx_count_distinct(o_orderstatus) "
        "as ndv_st from orders group by o_orderpriority "
        "order by o_orderpriority")
    assert d2.collect() == base2.collect(), \
        "dim-grain ndv differs from the unaccelerated plan"
    # control: uncovered column falls through
    eng.sql("select c_mktsegment, ndv(c_custkey) as x from customer "
            "group by c_mktsegment")
    assert eng.last_plan_accelerated is None, \
        "unsound ndv substitution (uncovered column)"
    # control: non-default rsd changes precision -> sound fall-through
    eng.sql("select c_mktsegment, approx_count_distinct(c_nationkey, "
            "0.01) as x from customer group by c_mktsegment")
    assert eng.last_plan_accelerated is None, \
        "unsound ndv substitution (custom rsd)"
    return df


TRANSPARENT_NDV_SQL = """
select c_mktsegment,
       cast(count(distinct c_nationkey) as bigint) as ndv_nation,
       cast(count(*) as bigint) as n
from customer
group by c_mktsegment
order by c_mktsegment
"""


def external_reflection(spark: SparkSession, sf: str) -> DataFrame:
    """EXTERNAL reflections (`ALTER VDS ... CREATE EXTERNAL REFLECTION
    <name> USING <target>`, reference grammar alter.ftl:611;
    `ReflectionServiceImpl.createExternalReflection:586`): the user
    maintains the materialization themselves and asserts it holds the
    dataset's rows; the engine re-plans any query over the dataset —
    including aggregates the declared-reflection matcher wouldn't
    cover — against the target, and gates use on the creation-time
    schema fingerprints (OUT_OF_SYNC on drift, asserted below).  The
    oracle below is the same aggregate over the base tables: the
    target holds identical rows, so values match exactly."""
    from pyspark.sql import functions as F

    from ..catalog import register_testdata
    from ..engine import Engine
    from .tpch import dsum

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.create_space("sales")
    eng.create_vds(
        "sales", "ord_ext",
        "select o_orderpriority, o_totalprice, o_custkey from orders")
    # the user-maintained materialization: physically separate dataset
    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf)))
    tgt_path = os.path.join(_REPO, ".scratch", f"ext_refl_tgt-{tag}")
    src = spark.sql("select o_orderpriority, o_totalprice, o_custkey "
                    "from orders")
    src.write.mode("overwrite").parquet(tgt_path)
    # schema is the frame just written: skip the inference job
    spark.read.schema(src.schema).parquet(tgt_path) \
        .createOrReplaceTempView("ord_ext_mat")
    eng.sql("ALTER VDS sales.ord_ext CREATE EXTERNAL REFLECTION "
            "r_ext USING ord_ext_mat")
    df = eng.sql(
        "select o_orderpriority, count(*) as n, "
        "cast(sum(cast(o_totalprice as decimal(18,2))) as double) "
        "as revenue from sales.ord_ext group by o_orderpriority "
        "order by o_orderpriority")
    assert eng.last_plan_accelerated == "r_ext", \
        "external reflection substitution missed"
    assert "ord_ext_mat" in \
        df._jdf.queryExecution().analyzed().toString(), \
        "accelerated plan does not scan the external target"
    # a query NOT touching the dataset never claims acceleration
    eng.sql("select count(*) as n from orders")
    assert eng.last_plan_accelerated is None
    # schema drift on the target -> OUT_OF_SYNC, sound fall-through
    spark.sql("select o_orderpriority from orders") \
        .createOrReplaceTempView("ord_ext_mat")
    d2 = eng.sql("select count(*) as n from sales.ord_ext")
    assert eng.last_plan_accelerated is None
    assert d2.collect()[0][0] > 0  # planned normally from the base
    status = (eng.sql("select status from sys.reflections")
              .where("status = 'OUT_OF_SYNC'").count())
    assert status == 1, "drifted external reflection not OUT_OF_SYNC"
    eng._default_refl_store().drop("r_ext")
    return df


EXTERNAL_REFLECTION_SQL = """
select o_orderpriority,
       cast(count(*) as bigint) as n,
       cast(sum(cast(o_totalprice as decimal(18,2))) as double)
         as revenue
from orders
group by o_orderpriority
order by o_orderpriority
"""


def transparent_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """CONDITIONAL aggregation through transparent substitution — the
    pivot/BI shape `sum(case when <dim predicate> then <col> else 0
    end)`.  The CASE predicate references only stored dims, so it is
    CONSTANT within each rollup cell and the aggregate reduces exactly
    to a CASE over cell partials: column branches read the column's
    partial, literal branches multiply/count the cell's row count,
    scaled branches (`0.5 * v`) scale the partial (the reference's
    Calcite SubstitutionVisitor unifies these expressions the same
    way, SubstitutionProvider.java:40).  COUNT/MIN/MAX forms and
    missing-else (NULL) semantics asserted in pytest; here the
    oracle-checked pivot uses integer-valued quantities so decimal
    partials and double accumulation agree bit-for-bit.  Soundness
    controls: a predicate over a non-dim column and a branch value
    without its partial both fall through."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_pv "
        "USING DIMENSIONS (l_returnflag, l_linestatus, l_shipdate) "
        "MEASURES (l_quantity (SUM, COUNT))")
    df = eng.sql(
        "select l_returnflag, "
        "sum(case when l_linestatus = 'O' then l_quantity else 0 end) "
        "as qty_open, "
        "sum(case when l_linestatus = 'F' then l_quantity else 0 end) "
        "as qty_filled, "
        "sum(case when year(l_shipdate) = 1996 then 0.5 * l_quantity "
        "else 0 end) as half_96, "
        "count(case when l_linestatus = 'O' then l_quantity end) "
        "as n_open, "
        "count(*) as n "
        "from lineitem group by l_returnflag order by l_returnflag")
    assert eng.last_plan_accelerated == "t_pv", \
        "conditional-agg substitution missed"
    # control: predicate over a column the reflection doesn't store
    eng.sql("select l_returnflag, sum(case when l_partkey = 1 then "
            "l_quantity else 0 end) as x from lineitem "
            "group by l_returnflag")
    assert eng.last_plan_accelerated is None, \
        "unsound conditional-agg substitution (non-dim predicate)"
    # control: branch value without a declared partial
    eng.sql("select l_returnflag, sum(case when l_linestatus = 'O' "
            "then l_discount else 0 end) as x from lineitem "
            "group by l_returnflag")
    assert eng.last_plan_accelerated is None, \
        "unsound conditional-agg substitution (missing measure)"
    return df


TRANSPARENT_PIVOT_SQL = """
select l_returnflag,
       sum(case when l_linestatus = 'O' then l_quantity else 0 end)
         as qty_open,
       sum(case when l_linestatus = 'F' then l_quantity else 0 end)
         as qty_filled,
       sum(case when year(l_shipdate) = 1996 then 0.5 * l_quantity
           else 0 end) as half_96,
       cast(count(case when l_linestatus = 'O' then l_quantity end)
            as bigint) as n_open,
       cast(count(*) as bigint) as n
from lineitem
group by l_returnflag
order by l_returnflag
"""


def transparent_avgexpr(spark: SparkSession, sf: str) -> DataFrame:
    """AVG over a whitelisted PROVABLY-INTEGER expression dim
    (avg(year(d)), avg(month(d))) substitutes by count-weighting the
    materialization's dim grain: Σ f(cell)·count(cell) / Σ count(cell)
    over non-null-f cells — exact for integer f, so the value equals
    the unaccelerated double division bit-for-bit.  Dtype-blind
    functions (abs/floor/ceil could be decimal-typed) refuse, mirroring
    the plain-AVG decimal guard."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION t_aex "
            "USING DIMENSIONS (o_orderpriority, o_orderdate) "
            "MEASURES (o_totalprice (SUM))")
    df = eng.sql(
        "select o_orderpriority, avg(year(o_orderdate)) as avg_year, "
        "avg(month(o_orderdate)) as avg_month, "
        "avg(year(o_orderdate)) * 2 + 1 as avg_year_scaled, "
        "count(*) as n "
        "from orders group by o_orderpriority "
        "having avg(year(o_orderdate)) > 1900 "
        "order by o_orderpriority")
    assert eng.last_plan_accelerated == "t_aex", \
        "avg-over-expression-dim substitution missed"
    # control: dtype-blind fn refuses
    eng.sql("select o_orderpriority, avg(abs(o_totalprice)) as x "
            "from orders group by o_orderpriority")
    assert eng.last_plan_accelerated is None, \
        "unsound avg substitution (dtype-blind fn)"
    return df


TRANSPARENT_AVGEXPR_SQL = """
select o_orderpriority,
       avg(cast(year(o_orderdate) as bigint)) as avg_year,
       avg(cast(month(o_orderdate) as bigint)) as avg_month,
       avg(cast(year(o_orderdate) as bigint)) * 2 + 1 as avg_year_scaled,
       cast(count(*) as bigint) as n
from orders
group by o_orderpriority
having avg(cast(year(o_orderdate) as bigint)) > 1900
order by o_orderpriority
"""


def raw_any_shape(spark: SparkSession, sf: str) -> DataFrame:
    """Any-shape RAW substitution — the reference's scan-level
    materialization match (SubstitutionProvider.java:40 on the
    TableScan): a window-function query and a DISTINCT (shapes the
    aggregate and scan-fragment matchers refuse) answer from a raw
    reflection by re-binding the scan; analysis against the swapped
    binding succeeds only when the raw carries every referenced column,
    and output-schema conformance refuses drift (`select *` over a
    narrower raw falls through — asserted)."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE RAW REFLECTION r_rawany "
            "USING DISPLAY (o_orderkey, o_custkey, o_orderpriority, "
            "o_totalprice)")
    df = eng.sql(
        "select o_orderpriority, o_orderkey, "
        "row_number() over (partition by o_orderpriority "
        "order by o_orderkey) as rn "
        "from orders where o_custkey < 100 "
        "order by o_orderpriority, o_orderkey")
    assert eng.last_plan_accelerated == "r_rawany", \
        "window-over-raw substitution missed"
    # DISTINCT accelerates too
    eng.sql("select distinct o_orderpriority from orders")
    assert eng.last_plan_accelerated == "r_rawany"
    # control: an uncovered column falls through
    eng.sql("select o_orderdate from orders limit 1")
    assert eng.last_plan_accelerated is None, \
        "unsound raw swap (uncovered column)"
    # control: select * over the narrower raw falls through
    eng.sql("select * from orders")
    assert eng.last_plan_accelerated is None, \
        "unsound raw swap (narrower star)"
    return df


RAW_ANY_SHAPE_SQL = """
select o_orderpriority, o_orderkey,
       cast(row_number() over (partition by o_orderpriority
            order by o_orderkey) as bigint) as rn
from orders where o_custkey < 100
order by o_orderpriority, o_orderkey
"""


def transparent_union(spark: SparkSession, sf: str) -> DataFrame:
    """UNION ALL of aggregate fragments — each branch substitutes
    against its own covering reflection (DIFFERENT materializations
    over different tables in one query), all-or-nothing so a partially
    matched union never mixes materialized and live semantics.  The
    reference's substitution likewise applies per-subtree
    (SubstitutionProvider.java:40)."""
    from ..catalog import register_testdata
    from ..engine import Engine

    register_testdata(spark, sf)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION t_un1 "
            "USING DIMENSIONS (o_orderpriority) "
            "MEASURES (o_totalprice (SUM, COUNT))")
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_un2 "
            "USING DIMENSIONS (l_returnflag) "
            "MEASURES (l_quantity (SUM, COUNT))")
    df = eng.sql(
        "select o_orderpriority as k, count(*) as n from orders "
        "group by o_orderpriority "
        "union all "
        "select l_returnflag as k, count(*) as n from lineitem "
        "group by l_returnflag "
        "order by k, n")
    assert eng.last_plan_accelerated == "t_un1,t_un2", \
        "union-branch substitution missed"
    # control: a branch over an uncovered grouping falls the whole
    # union through
    eng.sql("select o_orderpriority as k, count(*) as n from orders "
            "group by o_orderpriority union all "
            "select o_orderstatus as k, count(*) as n from orders "
            "group by o_orderstatus")
    assert eng.last_plan_accelerated is None, \
        "unsound union substitution (uncovered branch)"
    return df


TRANSPARENT_UNION_SQL = """
select k, n from (
  select o_orderpriority as k, cast(count(*) as bigint) as n
  from orders group by o_orderpriority
  union all
  select l_returnflag as k, cast(count(*) as bigint) as n
  from lineitem group by l_returnflag
)
order by k, n
"""


def suggester(spark: SparkSession, sf: str) -> DataFrame:
    """Reflection recommendation loop (ReflectionSuggester.java:56):
    an engine records an aggregate workload over orders, ANALYZE
    supplies column NDVs, and sys.reflection_recommendations emits one
    ranked candidate — low-NDV dims kept, the near-unique key dropped,
    avg decomposed to SUM+COUNT partials.  The emitted DDL is then
    replayed and the original workload re-runs accelerated (asserted
    engine-side; the oracle checks the recommendation content)."""
    from ..engine import Engine

    eng = Engine(spark)
    load(spark, sf, "orders").createOrReplaceTempView("sugg_ord")
    # workload recording happens at PLAN time — no execution needed
    eng.sql("select o_orderstatus, sum(o_totalprice) as s "
            "from sugg_ord group by o_orderstatus")
    eng.sql("select o_orderpriority, avg(o_totalprice) as a "
            "from sugg_ord group by o_orderpriority")
    eng.sql("select o_orderkey, count(*) as c "
            "from sugg_ord group by o_orderkey")
    eng.sql("ANALYZE TABLE sugg_ord FOR COLUMNS (o_orderstatus, "
            "o_orderpriority, o_orderkey, o_totalprice) "
            "COMPUTE STATISTICS")
    rec = eng.sql(
        "select dataset, dimensions, dropped_high_ndv, measures, "
        "query_count from sys.reflection_recommendations "
        "where dataset = 'sugg_ord'")
    row = rec.collect()
    # close the loop: the suggested DDL must accelerate the workload
    ddl = eng.sql("select ddl from sys.reflection_recommendations "
                  "where dataset = 'sugg_ord'").first()["ddl"]
    eng.sql(ddl)
    eng.sql("select o_orderstatus, sum(o_totalprice) as s "
            "from sugg_ord group by o_orderstatus")  # plan-only probe
    accelerated = eng.last_plan_accelerated is not None
    eng._refl_store.drop("refl_suggested_sugg_ord")
    spark.catalog.dropTempView("sugg_ord")
    return meta_df(spark, 
        [tuple(row[0]) + (int(accelerated),)],
        "dataset string, dimensions string, dropped_high_ndv string, "
        "measures string, query_count int, accelerated int")


SUGGESTER_SQL = """
select 'sugg_ord' as dataset,
       'o_orderstatus, o_orderpriority' as dimensions,
       'o_orderkey' as dropped_high_ndv,
       'o_totalprice (COUNT, SUM)' as measures,
       3 as query_count,
       1 as accelerated
"""


def transparent_fulljoin(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER fact-dim star substitution: a reflection declaring
    the same FULL edge answers the query — null-extended rows on BOTH
    sides (lineitems without a dim match AND the dim row matching no
    lineitem) group like values, the LEFT algebra plus dim-only rows
    (`SubstitutionProvider.java:40` scope).  Controls asserted: a WHERE
    on a full-side column falls through, and an INNER query never
    matches the FULL reflection."""
    from pyspark.sql import functions as F

    from ..engine import Engine

    d = _scratch_dir("fulljoin", sf)
    li = load(spark, sf, "lineitem")
    li.createOrReplaceTempView("lineitem")
    supp = (load(spark, sf, "supplier").where("s_suppkey <= 50")
            .select("s_suppkey", "s_nationkey"))
    extra = meta_df(spark, 
        [(999999, 99)], supp.schema)
    supp.unionByName(extra).write.mode("overwrite").parquet(d)
    # schema is the frame just written: skip the inference job
    spark.read.schema(supp.schema).parquet(d) \
        .createOrReplaceTempView("supp_fj")
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION fjoin "
            "USING DIMENSIONS (s_nationkey, l_returnflag) "
            "MEASURES (l_extendedprice (SUM)) "
            "JOINS (full supp_fj on l_suppkey = s_suppkey)")
    q = ("select s_nationkey, sum(l_extendedprice) as s, count(*) as c "
         "from lineitem full outer join supp_fj "
         "on l_suppkey = s_suppkey group by s_nationkey")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "fjoin", \
        "full-outer star did not substitute"
    # control 1: WHERE on a full-side column refuses (sound).
    # Plan-only: the substitution decision is made at plan time, so
    # the fall-through base plan is never EXECUTED here
    eng.sql(q.replace("group by", "where l_returnflag = 'R' group by"))
    assert eng.last_plan_accelerated is None, \
        "filter on full-side column must not substitute"
    # control 2: an INNER query never answers from a FULL reflection
    eng.sql("select s_nationkey, sum(l_extendedprice) as s "
            "from lineitem join supp_fj on l_suppkey = s_suppkey "
            "group by s_nationkey")
    assert eng.last_plan_accelerated is None, \
        "inner query must not match full reflection"
    # the result stays LAZY over the materialization: do not drop it
    return (df.withColumn("s", F.col("s").cast("double"))
            .orderBy("s_nationkey"))


TRANSPARENT_FULLJOIN_SQL = """
with supp_fj as (
  select s_suppkey, s_nationkey from supplier where s_suppkey <= 50
  union all select 999999, 99
)
select s_nationkey,
       cast(sum(cast(l_extendedprice as decimal(28,4))) as double) as s,
       count(*) as c
from lineitem full outer join supp_fj on l_suppkey = s_suppkey
group by s_nationkey
order by s_nationkey
"""


def transparent_caseagg(spark: SparkSession, sf: str) -> DataFrame:
    """CASE WHEN over aggregate outputs inside post-agg arithmetic AND
    inside HAVING — the guarded-ratio shape BI tools emit (`CASE WHEN
    count(*)>0 THEN sum(x) END`), spliced over the rollup's
    re-aggregated partials.  Control asserted: a CASE over an
    uncovered aggregate leaf (min, not declared) falls through."""
    from pyspark.sql import functions as F

    from ..engine import Engine

    load(spark, sf, "orders").createOrReplaceTempView("orders")
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION caseagg "
            "USING DIMENSIONS (o_orderstatus, o_orderpriority) "
            "MEASURES (o_totalprice (SUM, COUNT))")
    q = ("select o_orderstatus, "
         "case when count(*) >= 100 then sum(o_totalprice) end as big_s, "
         "case when sum(o_totalprice) is null then 0 else count(*) end "
         "as nn_c from orders group by o_orderstatus "
         "having case when count(*) > 0 then sum(o_totalprice) "
         "else 0.0 end > 1000.0")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "caseagg", \
        "CASE-over-aggregates did not substitute"
    # control: CASE over an uncovered leaf refuses
    eng.sql("select o_orderstatus, case when min(o_totalprice) > 0 "
            "then 1 else 0 end as m from orders "
            "group by o_orderstatus")  # plan-only: decision is at plan time
    assert eng.last_plan_accelerated is None, \
        "uncovered CASE leaf must not substitute"
    # the result stays LAZY over the materialization: do not drop it
    return (df.withColumn("big_s", F.col("big_s").cast("double"))
            .withColumn("nn_c", F.col("nn_c").cast("long"))
            .orderBy("o_orderstatus"))


TRANSPARENT_CASEAGG_SQL = """
select o_orderstatus,
       cast(case when count(*) >= 100
            then sum(cast(o_totalprice as decimal(28,4))) end
            as double) as big_s,
       cast(case when sum(o_totalprice) is null then 0 else count(*) end
            as bigint) as nn_c
from orders
group by o_orderstatus
having case when count(*) > 0
       then cast(sum(cast(o_totalprice as decimal(28,4))) as double)
       else 0.0 end > 1000.0
order by o_orderstatus
"""


def dim_granularity(spark: SparkSession, sf: str) -> DataFrame:
    """Dimension granularity `BY DAY` (grammar alter.ftl:441-472
    IdentifierWithGranularity; ReflectionExpander.java:194-210 casts the
    materialized dim to DATE): a day-grouped query answers from the
    DATE-grain materialization; finer-grain uses refuse — hour grouping,
    raw-timestamp grouping, and sub-day filters all fall through."""
    from ..engine import Engine

    eng = Engine(spark)
    load(spark, sf, "events").createOrReplaceTempView("ev_gran")
    eng.sql("ALTER TABLE ev_gran CREATE AGGREGATE REFLECTION t_gran "
            "USING DIMENSIONS (event_type, ts BY DAY) "
            "MEASURES (value (SUM))")
    df = eng.sql(
        "select event_type, date_trunc('day', ts) as d, "
        "cast(sum(value) as double) as s, count(*) as n "
        "from ev_gran group by event_type, date_trunc('day', ts) "
        "order by event_type, d")
    assert eng.last_plan_accelerated == "t_gran", \
        "day-grouped query must answer from the BY DAY materialization"
    # control 1: hour grouping needs sub-day values the DATE cast lost
    eng.sql("select event_type, date_trunc('hour', ts) as h, "
            "count(*) as n from ev_gran "
            "group by event_type, date_trunc('hour', ts)")
    assert eng.last_plan_accelerated is None, \
        "hour-grouped query must NOT match a BY DAY reflection"
    # control 2: raw-timestamp grouping refuses
    eng.sql("select ts, count(*) as n from ev_gran group by ts")
    assert eng.last_plan_accelerated is None, \
        "raw-ts grouping must NOT match a BY DAY reflection"
    # control 3: a filter on the granular column may carry sub-day
    # precision — refuse
    eng.sql("select event_type, count(*) as n from ev_gran "
            "where ts >= '2024-01-01 06:30:00' group by event_type")
    assert eng.last_plan_accelerated is None, \
        "sub-day filter must NOT match a BY DAY reflection"
    return df


DIM_GRANULARITY_SQL = """
select event_type, date_trunc('day', ts) as d,
       cast(sum(cast(value as decimal(28,4))) as double) as s,
       count(*) as n
from events
group by event_type, date_trunc('day', ts)
order by event_type, d
"""


def refresh_policy(spark: SparkSession, sf: str) -> DataFrame:
    """Refresh/grace/expiry policy loop, value-checked end-to-end
    (reference AccelerationSettings refreshPeriod/gracePeriod;
    `DependencyManager.java` schedules refreshes, `RefreshDoneHandler`
    computes the next refresh/expiry instants): a DUE-but-within-grace
    reflection still serves its LAST build (asserted: the pre-append
    aggregate), an EXPIRED one refuses and the query plans fresh from
    base, and REFRESH REFLECTIONS brings the materialization current so
    it serves again.  The returned frame is the post-refresh accelerated
    answer — the oracle recomputes it over the full base table."""
    from pyspark.sql import functions as F

    from ..engine import Engine

    eng = Engine(spark)
    d = _scratch_dir("refreshpol", sf)
    orders = load(spark, sf, "orders")
    base = orders.where("o_orderkey % 3 != 0")
    base.write.mode("overwrite").parquet(d)
    # schema is the frame just written: skip the inference job
    spark.read.schema(orders.schema).parquet(d) \
        .createOrReplaceTempView("rp_ord")
    eng.sql("ALTER TABLE rp_ord CREATE AGGREGATE REFLECTION rp_refl "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM, COUNT))")
    eng.sql("ALTER DATASET rp_ord SET ACCELERATION "
            "REFRESH EVERY 1 SECOND EXPIRE AFTER 600 SECONDS")
    # base-table commit the policy clock has not seen: append the
    # held-out third and swap the view
    orders.where("o_orderkey % 3 = 0").write.mode("append").parquet(d)
    spark.read.schema(orders.schema).parquet(d) \
        .createOrReplaceTempView("rp_ord")
    store = eng._refl_store
    refl = store._reflections["rp_refl"]

    def counts(df) -> dict:
        return {r[0]: r[1] for r in df.select(
            "o_orderstatus", "c").collect()}

    # expectation counts in ONE scan of orders (base is a filter of it):
    # full = count(*), base = count of the kept two-thirds.  A status
    # whose rows are ALL held out has base == 0 and must be ABSENT from
    # base_counts (the old per-frame groupBy never emitted it).
    exp = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("full"),
        F.count(F.when(F.expr("o_orderkey % 3 != 0"), 1)).alias("base")
    ).collect()
    base_counts = {r[0]: r["base"] for r in exp if r["base"] > 0}
    full_counts = {r[0]: r["full"] for r in exp}
    # DUE (past refresh period, within grace): still serves the OLD
    # materialization
    refl.last_refresh_ms = store._now_ms() - 30_000
    q_a = eng.sql("select o_orderstatus, sum(o_totalprice) as s_a, "
                  "count(o_totalprice) as c from rp_ord "
                  "group by o_orderstatus")
    assert eng.last_plan_accelerated == "rp_refl", \
        "within-grace reflection must still substitute"
    assert counts(q_a) == base_counts, \
        "within-grace serves the LAST build, not fresh data"
    # EXPIRED (past grace): refuses — the query plans from base and
    # sees the appended rows without any refresh
    refl.last_refresh_ms = store._now_ms() - 10**9
    q_b = eng.sql("select o_orderstatus, sum(o_totalprice) as s_b, "
                  "count(o_totalprice) as c from rp_ord "
                  "group by o_orderstatus")
    assert eng.last_plan_accelerated is None, \
        "expired reflection must never serve"
    assert counts(q_b) == full_counts
    # REFRESH REFLECTIONS refreshes the due list; the reflection serves
    # again, now current
    out = eng.sql("REFRESH REFLECTIONS").first()
    assert "rp_refl" in out[1], out
    q_c = eng.sql("select o_orderstatus, sum(o_totalprice) as s, "
                  "count(o_totalprice) as c from rp_ord "
                  "group by o_orderstatus")
    assert eng.last_plan_accelerated == "rp_refl", \
        "refreshed reflection must substitute again"
    # collect BEFORE dropping: drop() deletes the materialization files
    # the lazy q_c scans
    rows = sorted((r[0], float(r[1]), r[2])
                  for r in q_c.withColumn("s", F.col("s").cast("double"))
                  .collect())
    store.refresh_policies.pop("rp_ord", None)
    store.drop("rp_refl")
    spark.catalog.dropTempView("rp_ord")
    return meta_df(spark, 
        rows, "o_orderstatus string, s double, c bigint") \
        .orderBy("o_orderstatus")


REFRESH_POLICY_SQL = """
select o_orderstatus,
       cast(sum(cast(o_totalprice as decimal(28,4))) as double) as s,
       count(o_totalprice) as c
from orders
group by o_orderstatus
order by o_orderstatus
"""


def _scratch_dir(name: str, sf: str) -> str:
    import shutil

    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf)))
    d = os.path.join(_REPO, ".scratch", f"{name}-{tag}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d, exist_ok=True)
    return d


REFLECTION_QUERIES = {
    "refl_suggester": suggester,
    "refl_transparent_fulljoin": transparent_fulljoin,
    "refl_transparent_caseagg": transparent_caseagg,
    "refl_transparent_union": transparent_union,
    "refl_raw_window": raw_any_shape,
    "refl_transparent_sql": transparent_sql,
    "refl_transparent_raw": transparent_raw,
    "refl_transparent_cdistinct": transparent_cdistinct,
    "refl_transparent_avg": transparent_avg,
    "refl_transparent_leftjoin": transparent_leftjoin,
    "refl_transparent_sumdistinct": transparent_sumdistinct,
    "refl_transparent_purefn": transparent_purefn,
    "refl_transparent_rollup": transparent_rollup,
    "refl_transparent_ratio": transparent_ratio,
    "refl_transparent_exprdim": transparent_exprdim,
    "refl_transparent_exprmeasure": transparent_exprmeasure,
    "refl_transparent_ndv": transparent_ndv,
    "refl_external": external_reflection,
    "refl_transparent_pivot": transparent_pivot,
    "refl_transparent_avgexpr": transparent_avgexpr,
    "refl_path_anchored": path_anchored,
    "refl_transparent_join": transparent_join,
    "refl_transparent_vds": transparent_vds,
    "refl_agg_rollup": agg_rollup,
    "refl_incremental_refresh": incremental,
    "refl_join_rollup": join_rollup,
    "refl_filter_subsumption": filter_subsumption,
    "refl_refresh_policy": refresh_policy,
    "refl_dim_granularity": dim_granularity,
}

REFLECTION_ORACLE = {
    "refl_suggester": SUGGESTER_SQL,
    "refl_transparent_fulljoin": TRANSPARENT_FULLJOIN_SQL,
    "refl_transparent_caseagg": TRANSPARENT_CASEAGG_SQL,
    "refl_transparent_union": TRANSPARENT_UNION_SQL,
    "refl_raw_window": RAW_ANY_SHAPE_SQL,
    "refl_transparent_sql": TRANSPARENT_SQL_SQL,
    "refl_transparent_raw": TRANSPARENT_RAW_SQL,
    "refl_transparent_cdistinct": TRANSPARENT_CDISTINCT_SQL,
    "refl_transparent_avg": TRANSPARENT_AVG_SQL,
    "refl_transparent_leftjoin": TRANSPARENT_LEFTJOIN_SQL,
    "refl_transparent_sumdistinct": TRANSPARENT_SUMDISTINCT_SQL,
    "refl_transparent_purefn": TRANSPARENT_PUREFN_SQL,
    "refl_transparent_rollup": TRANSPARENT_ROLLUP_SQL,
    "refl_transparent_ratio": TRANSPARENT_RATIO_SQL,
    "refl_transparent_exprdim": TRANSPARENT_EXPRDIM_SQL,
    "refl_transparent_exprmeasure": TRANSPARENT_EXPRMEASURE_SQL,
    "refl_transparent_ndv": TRANSPARENT_NDV_SQL,
    "refl_external": EXTERNAL_REFLECTION_SQL,
    "refl_transparent_pivot": TRANSPARENT_PIVOT_SQL,
    "refl_transparent_avgexpr": TRANSPARENT_AVGEXPR_SQL,
    "refl_path_anchored": PATH_ANCHORED_SQL,
    "refl_transparent_join": TRANSPARENT_JOIN_SQL,
    "refl_transparent_vds": TRANSPARENT_VDS_SQL,
    "refl_agg_rollup": AGG_ROLLUP_SQL,
    "refl_incremental_refresh": INCREMENTAL_SQL,
    "refl_join_rollup": JOIN_ROLLUP_SQL,
    "refl_filter_subsumption": FILTER_SUBSUMPTION_SQL,
    "refl_refresh_policy": REFRESH_POLICY_SQL,
    "refl_dim_granularity": DIM_GRANULARITY_SQL,
}
