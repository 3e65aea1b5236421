"""Reflection substitution/refresh vs DuckDB oracle + plan-shape check."""

from __future__ import annotations

import os

import pytest

from dremio_oss_spark.queries import reflections_q

from .conftest import SF_SMALL
from .oracle import compare, duckdb_conn


@pytest.fixture(scope="module")
def oracle():
    con = duckdb_conn(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(reflections_q.REFLECTION_ORACLE))
def test_reflection_parity(spark, oracle, name):
    df = reflections_q.REFLECTION_QUERIES[name](spark, SF_SMALL)
    expected = oracle.execute(reflections_q.REFLECTION_ORACLE[name]).fetchdf()
    problems = compare(df, expected, ordered=False)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_substituted_plan_scans_materialization(spark):
    """Plan-shape check (reference PlanTestBase.testPlanMatchingPatterns):
    the substituted plan must scan the reflection dir, not lineitem."""
    df = reflections_q.agg_rollup(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "li_by_flag_status" in plan
    assert "lineitem.parquet" not in plan


def test_no_match_falls_back(spark):
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.plans import AggQuery, Measure

    store = reflections_q._store(spark, SF_SMALL)
    li = load(spark, SF_SMALL, "lineitem")
    q = AggQuery(
        table="lineitem",
        dims=("l_partkey",),  # not covered by any reflection
        measures=(Measure("sum", "l_quantity"),),
    )
    df, substituted = store.execute(q, li)
    assert not substituted
    assert df.count() > 0


def test_raw_reflection_substitution(spark):
    """RAW reflection: narrow scan substituted; results equal base."""
    from dremio_oss_spark.catalog import load

    store = reflections_q._store(spark, SF_SMALL)
    li = load(spark, SF_SMALL, "lineitem")
    store.create_raw_reflection(
        "li_raw",
        li,
        table="lineitem",
        display_cols=["l_orderkey", "l_quantity", "l_shipdate"],
        sort_col="l_shipdate",
    )
    df, substituted = store.scan("lineitem", ["l_orderkey", "l_quantity"], li)
    assert substituted
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "li_raw" in plan and "lineitem.parquet" not in plan
    assert df.count() == li.count()
    # not covered -> falls back to base
    _, sub2 = store.scan("lineitem", ["l_partkey"], li)
    assert not sub2


def test_filter_on_non_dim_column_falls_back(spark):
    """A filter touching a non-materialized column must NOT substitute."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.plans import AggQuery, Measure

    store = reflections_q._store(spark, SF_SMALL)
    li = load(spark, SF_SMALL, "lineitem")
    store.create_aggregation_reflection(
        "li_guard", li, table="lineitem",
        dims=["l_returnflag"],
        measures=[Measure("sum", "l_quantity")],
    )
    q = AggQuery(
        table="lineitem",
        dims=("l_returnflag",),
        measures=(Measure("sum", "l_quantity"),),
        filters=("l_returnflag = 'R' and l_quantity > 5",),
    )
    df, substituted = store.execute(q, li)
    assert not substituted  # l_quantity isn't in the materialization
    assert df.count() > 0


def test_join_reflection_rejects_uncovered_edge(spark):
    """A query joining a dim the reflection never materialized must NOT
    substitute (join-tree matching is exact-subset, never a guess)."""
    import os
    import re

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.plans import AggQuery, JoinSpec, Measure, ReflectionStore

    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(SF_SMALL)))
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", f"refl-jt-{tag}",
    )
    store = ReflectionStore(spark, root)
    li = load(spark, SF_SMALL, "lineitem")
    supp = load(spark, SF_SMALL, "supplier")
    store.create_aggregation_reflection(
        "li_supp", li, table="lineitem",
        dims=["s_nationkey"], measures=[Measure("count", "*")],
        joins=[JoinSpec("supplier", "l_suppkey", "s_suppkey")],
        dim_sources={"supplier": supp},
    )
    # same fact, but the query needs an orders edge -> no match
    q = AggQuery(
        table="lineitem", dims=("s_nationkey",),
        measures=(Measure("count", "*"),),
        joins=(
            JoinSpec("supplier", "l_suppkey", "s_suppkey"),
            JoinSpec("orders", "l_orderkey", "o_orderkey"),
        ),
    )
    assert store.find_match(q) is None
    # and the covered sub-star DOES match
    q2 = AggQuery(
        table="lineitem", dims=("s_nationkey",),
        measures=(Measure("count", "*"),),
        joins=(JoinSpec("supplier", "l_suppkey", "s_suppkey"),),
    )
    assert store.find_match(q2) is not None


def test_full_edge_reflection_refuses_query_without_the_edge():
    """A FULL outer star edge adds dim-only null-extended rows, so the
    'extra reflection edges are harmless' N:1 argument does NOT apply:
    a reflection declaring a full edge must refuse any query that does
    not carry that exact edge (driver-found r9: a bare
    `group by l_returnflag` over lineitem substituted a FULL-edge
    reflection and returned a spurious NULL group with inflated
    count(*))."""
    from dremio_oss_spark.plans.reflections import (
        AggQuery, JoinSpec, Measure, Reflection,
    )

    full_edge = JoinSpec("supp_fj", "l_suppkey", "s_suppkey", "full")
    refl = Reflection(
        name="fjoin", table="lineitem",
        dims=("l_returnflag", "s_nationkey"),
        measures=(Measure("count", "*"),), path="/dev/null",
        joins=(full_edge,),
    )
    # bare single-table aggregate: no joins -> must refuse
    q_bare = AggQuery(
        table="lineitem", dims=("l_returnflag",),
        measures=(Measure("count", "*"),),
    )
    assert not refl.covers(q_bare)
    # query carrying the exact full edge still matches
    q_full = AggQuery(
        table="lineitem", dims=("l_returnflag",),
        measures=(Measure("count", "*"),), joins=(full_edge,),
    )
    assert refl.covers(q_full)
    # extra INNER edges stay harmless (unchanged N:1 behavior)
    inner = JoinSpec("supplier", "l_suppkey", "s_suppkey")
    refl_inner = Reflection(
        name="li_supp", table="lineitem",
        dims=("l_returnflag", "s_nationkey"),
        measures=(Measure("count", "*"),), path="/dev/null",
        joins=(inner,),
    )
    assert refl_inner.covers(q_bare)


def test_join_substituted_plan_scans_materialization(spark):
    df = reflections_q.join_rollup(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "li_by_nation_flag" in plan
    assert "lineitem.parquet" not in plan
    assert "supplier.parquet" not in plan  # join pre-materialized too


def test_snowflake_reflection_covers_chained_dims(spark, oracle):
    """Snowflake chain (fact -> supplier -> nation): JoinSpec edges apply
    in declaration order, so a dim keyed off another dim composes; the
    reflection answers a query grouped by the second-hop dim column."""
    import os
    import re

    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.plans import AggQuery, JoinSpec, Measure, ReflectionStore
    from .oracle import compare

    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(SF_SMALL)))
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", f"refl-snow-{tag}",
    )
    store = ReflectionStore(spark, root)
    li = load(spark, SF_SMALL, "lineitem")
    dims = {
        "supplier": load(spark, SF_SMALL, "supplier"),
        "nation": load(spark, SF_SMALL, "nation"),
    }
    chain = [
        JoinSpec("supplier", "l_suppkey", "s_suppkey"),
        JoinSpec("nation", "s_nationkey", "n_nationkey"),  # dim -> dim hop
    ]
    store.create_aggregation_reflection(
        "li_by_nation_name", li, table="lineitem",
        dims=["n_name"], measures=[Measure("sum", "l_quantity"), Measure("count", "*")],
        joins=chain, dim_sources=dims,
    )
    q = AggQuery(
        table="lineitem", dims=("n_name",),
        measures=(Measure("sum", "l_quantity"), Measure("count", "*")),
        joins=tuple(chain),
    )
    df, substituted = store.execute(q, li, dim_sources=dims)
    assert substituted
    df = df.withColumn("sum_l_quantity", F.col("sum_l_quantity").cast("double"))
    expected = oracle.execute("""
        select n_name,
               cast(sum(cast(l_quantity as decimal(28,4))) as double) as sum_l_quantity,
               count(*) as count_all
        from lineitem
        join supplier on l_suppkey = s_suppkey
        join nation on s_nationkey = n_nationkey
        group by n_name
    """).fetchdf()
    problems = compare(df, expected, ordered=False)
    assert not problems, problems


def test_vds_reflection_view_acceleration(spark, oracle, tmp_path):
    """View acceleration: a reflection ON a VDS (whose definition is a
    join) answers aggregates over the VDS from the materialization — the
    view's join tree never re-executes (SubstitutionProvider.java view
    matching, ReflectionServiceImpl.java ALTER VDS ... CREATE REFLECTION)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.plans import Measure
    from .conftest import SF_SMALL
    from .oracle import compare

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    eng.create_space("mart")
    eng.create_vds(
        "mart", "order_lines",
        """
        select o.o_orderpriority, l.l_returnflag, l.l_quantity
        from orders o join lineitem l on o.o_orderkey = l.l_orderkey
        """,
    )
    eng.create_vds_reflection(
        "mart", "order_lines", "ol_by_prio_flag",
        dims=["o_orderpriority", "l_returnflag"],
        measures=[Measure("sum", "l_quantity"), Measure("count", "*")],
        root=str(tmp_path / "refl"),
    )
    df, substituted = eng.aggregate_vds(
        "mart", "order_lines",
        dims=("o_orderpriority",),
        measures=(Measure("sum", "l_quantity"), Measure("count", "*")),
        filters=("l_returnflag = 'R'",),
    )
    assert substituted
    files = df.inputFiles()
    assert files and all("ol_by_prio_flag" in f for f in files)
    assert not any("lineitem.parquet" in f for f in files)  # join not re-run
    df = df.withColumn("sum_l_quantity", F.col("sum_l_quantity").cast("double"))
    expected = oracle.execute("""
        select o_orderpriority,
               cast(sum(cast(l_quantity as decimal(28,4))) as double) as sum_l_quantity,
               count(*) as count_all
        from orders o join lineitem l on o.o_orderkey = l.l_orderkey
        where l_returnflag = 'R'
        group by o_orderpriority
    """).fetchdf()
    problems = compare(df, expected, ordered=False)
    assert not problems, problems


def test_pred_implication_matrix():
    """Structural implication for the conjunctive range/eq/IN fragment —
    the soundness core of partial-reflection matching."""
    from dremio_oss_spark.plans.reflections import parse_pred, pred_implies

    P = parse_pred
    # ranges
    assert pred_implies(P("d >= '1997-01-01'"), P("d >= '1996-01-01'"))
    assert not pred_implies(P("d >= '1995-01-01'"), P("d >= '1996-01-01'"))
    assert pred_implies(P("x > 10"), P("x >= 10"))
    assert not pred_implies(P("x >= 10"), P("x > 10"))
    assert pred_implies(P("x >= 11"), P("x > 10"))
    assert pred_implies(P("x < 5"), P("x <= 5"))
    assert pred_implies(P("x = 7"), P("x >= 5"))
    assert not pred_implies(P("x = 3"), P("x >= 5"))
    # IN / equality
    assert pred_implies(P("k = 'a'"), P("k in ('a', 'b')"))
    assert pred_implies(P("k in ('a')"), P("k = 'a'"))
    assert pred_implies(P("k in ('a', 'b')"), P("k in ('a', 'b', 'c')"))
    assert not pred_implies(P("k in ('a', 'z')"), P("k in ('a', 'b')"))
    assert pred_implies(P("x in (6, 8)"), P("x > 5"))
    # different columns / incomparable types never imply
    assert not pred_implies(P("y >= 10"), P("x >= 5"))
    assert not pred_implies(P("x >= '10'"), P("x >= 5"))
    # outside the fragment -> unparseable -> sound refusal
    assert P("x + 1 >= 5 or y = 2") is None
    assert P("x <> 3") is None


def test_partial_reflection_requires_query_filter(spark, tmp_path):
    """A filtered materialization must NOT answer an unfiltered query, a
    disjoint-range query, or an unparseable-filter query."""
    from dremio_oss_spark.plans.reflections import (
        AggQuery,
        Measure,
        ReflectionStore,
    )

    df = spark.createDataFrame(
        [(i, "ab"[i % 2], i * 10) for i in range(40)],
        "id long, k string, v long",
    )
    store = ReflectionStore(spark, str(tmp_path))
    store.create_aggregation_reflection(
        "part", df, table="t", dims=["k", "id"],
        measures=[Measure("sum", "v"), Measure("count", "*")],
        filters=["id >= 20"],
    )
    meas = (Measure("sum", "v"), Measure("count", "*"))
    assert store.find_match(
        AggQuery("t", ("k",), meas, filters=("id >= 30",))) is not None
    assert store.find_match(AggQuery("t", ("k",), meas)) is None
    assert store.find_match(
        AggQuery("t", ("k",), meas, filters=("id >= 10",))) is None
    assert store.find_match(
        AggQuery("t", ("k",), meas, filters=("id * 2 >= 60",))) is None
    # substituted result equals base-table result for the covered query
    q = AggQuery("t", ("k",), meas, filters=("id >= 30",))
    got, sub = store.execute(q, df)
    assert sub
    base = {(r["k"], int(r["sum_v"]), r["count_all"])
            for r in df.where("id >= 30").groupBy("k").agg(
                __import__("pyspark.sql.functions", fromlist=["f"]).sum("v").alias("sum_v"),
                __import__("pyspark.sql.functions", fromlist=["f"]).count("*").alias("count_all"),
            ).collect()}
    assert {(r["k"], int(r["sum_v"]), r["count_all"])
            for r in got.collect()} == base


def test_snapshot_incremental_refresh_lake_tables(spark, tmp_path):
    """The lake fold over an append-only history (the reference's
    snapshot-diff refresh method): it folds ONLY the rows of files
    added since the recorded version, on Delta and Iceberg alike; a
    no-change table refreshes for free; an unset base version raises
    instead of re-folding the whole history."""
    import pytest
    from pyspark.sql import functions as F

    from dremio_oss_spark.plans import Measure
    from dremio_oss_spark.plans.reflections import ReflectionStore
    from dremio_oss_spark.sources import delta, iceberg

    store = ReflectionStore(spark, str(tmp_path / "refl"))
    t = str(tmp_path / "d")
    df = spark.range(100).select(
        (F.col("id") % 5).alias("g"), F.col("id").cast("double").alias("v"))
    delta.write_delta(spark, df, t, enable_cdf=True)

    refl = store.create_aggregation_reflection(
        "by_g", delta.read_delta(spark, t), "tbl", ["g"],
        [Measure("sum", "v"), Measure("count", "*")])
    with pytest.raises(ValueError, match="base_version"):
        store.snapshot_incremental_refresh("by_g", t)
    v0 = refl.base_version = delta.DML.at(spark, t, None).version
    mat = store.load_materialization("by_g")
    assert mat.agg(F.sum("count_all")).collect()[0][0] == 100

    # append 50 rows -> only those fold in
    extra = spark.range(100, 150).select(
        (F.col("id") % 5).alias("g"), F.col("id").cast("double").alias("v"))
    v1 = delta.write_delta(spark, extra, t, mode="append")
    assert delta.DML.changes(spark, t, v0, v1).count() == 50
    assert store.snapshot_incremental_refresh("by_g", t) == 50
    mat = store.load_materialization("by_g")
    assert mat.agg(F.sum("count_all")).collect()[0][0] == 150
    assert (mat.agg(F.sum("sum_v")).collect()[0][0]
            == float(sum(range(150))))
    # no new commits -> zero-cost refresh
    assert store.snapshot_incremental_refresh("by_g", t) == 0

    # iceberg side: the change feed holds exactly the appended rows
    t2 = str(tmp_path / "i")
    s1 = iceberg.write_iceberg(spark, df, t2)
    s2 = iceberg.write_iceberg(spark, extra, t2, mode="append")
    assert iceberg.DML.changes(spark, t2, s1, s2).count() == 50
    refl2 = store.create_aggregation_reflection(
        "by_g2", iceberg.read_iceberg(spark, t2), "tbl2", ["g"],
        [Measure("count", "*")])
    refl2.base_version = s2
    iceberg.write_iceberg(spark, extra, t2, mode="append")
    assert store.snapshot_incremental_refresh("by_g2", t2) == 50
    mat2 = store.load_materialization("by_g2")
    assert mat2.agg(F.sum("count_all")).collect()[0][0] == 200


def test_find_match_prefers_cheapest_covering(spark, tmp_path):
    """With two covering reflections, substitution picks the one with
    fewer dimensions (smaller materialization to rescan)."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.plans import Measure
    from dremio_oss_spark.plans.reflections import AggQuery, ReflectionStore

    from .conftest import SF_SMALL

    li = load(spark, SF_SMALL, "lineitem")
    store = ReflectionStore(spark, str(tmp_path / "refl"))
    store.create_aggregation_reflection(
        "wide", li, "lineitem", ["l_returnflag", "l_linestatus"],
        [Measure("sum", "l_quantity")])
    store.create_aggregation_reflection(
        "narrow", li, "lineitem", ["l_returnflag"],
        [Measure("sum", "l_quantity")])
    q = AggQuery("lineitem", ("l_returnflag",),
                 (Measure("sum", "l_quantity"),))
    assert store.find_match(q).name == "narrow"
    # a query needing both dims can only use the wide one
    q2 = AggQuery("lineitem", ("l_returnflag", "l_linestatus"),
                  (Measure("sum", "l_quantity"),))
    assert store.find_match(q2).name == "wide"


def test_cdf_incremental_refresh_handles_deletes_and_updates(spark, tmp_path):
    """CDC-driven reflection maintenance: after DELETE/UPDATE/MERGE on a
    CDF-enabled Delta table, the lake fold of its signed change partials
    reproduces a from-scratch aggregation exactly; emptied groups
    disappear; min/max measures and count-less shapes are rejected."""
    import pytest
    from pyspark.sql import functions as F

    from dremio_oss_spark.plans import Measure
    from dremio_oss_spark.plans.reflections import ReflectionStore
    from dremio_oss_spark.sources.delta import (
        delete_from_delta,
        merge_into_delta,
        read_delta,
        resolve_snapshot,
        update_delta,
        write_delta,
    )

    t = str(tmp_path / "base")
    df = spark.createDataFrame(
        [(i, i % 4, float(i)) for i in range(40)], "k long, g long, v double")
    write_delta(spark, df, t, enable_cdf=True)

    store = ReflectionStore(spark, str(tmp_path / "refl"))
    refl = store.create_aggregation_reflection(
        "agg", read_delta(spark, t), "base", ["g"],
        [Measure("sum", "v"), Measure("count", "*")])
    refl.base_version = resolve_snapshot(spark, t).version

    delete_from_delta(spark, t, "g = 3")                 # empty group 3
    update_delta(spark, t, {"v": "v + 100"}, "g = 0")
    merge_into_delta(
        spark, t,
        spark.createDataFrame([(1, 1, 7.0), (900, 2, 50.0)],
                              "k long, g long, v double"), on=["k"])
    n = store.snapshot_incremental_refresh("agg", t)
    assert n > 0

    got = {r["g"]: (float(r["sum_v"]), int(r["count_all"]))
           for r in store.load_materialization("agg").collect()}
    expect = {r["g"]: (float(r["s"]), int(r["c"])) for r in
              read_delta(spark, t).groupBy("g").agg(
                  F.sum("v").alias("s"), F.count("*").alias("c")).collect()}
    assert got == expect
    assert 3 not in got  # emptied group dropped

    # idempotent when no new commits
    assert store.snapshot_incremental_refresh("agg", t) == 0

    # unset base_version must raise, not silently re-fold history from v0
    unset = store.create_aggregation_reflection(
        "unset", read_delta(spark, t), "base", ["g"],
        [Measure("sum", "v"), Measure("count", "*")])
    assert unset.base_version is None
    with pytest.raises(ValueError, match="base_version"):
        store.snapshot_incremental_refresh("unset", t)

    # contract errors
    bad = store.create_aggregation_reflection(
        "mm", read_delta(spark, t), "base", ["g"], [Measure("min", "v"),
                                                    Measure("count", "*")])
    bad.base_version = 0
    with pytest.raises(ValueError, match="min/max"):
        store.snapshot_incremental_refresh("mm", t)
    # a COUNT partial is no longer omittable: creation ALWAYS adds the
    # implicit count(*) measure, so the signed CDF fold can elect
    # emptied groups on any reflection
    nocount = store.create_aggregation_reflection(
        "nc", read_delta(spark, t), "base", ["g"], [Measure("sum", "v")])
    assert any(m.kind == "count" and m.col == "*"
               for m in nocount.measures)
    nocount.base_version = 0
    store.snapshot_incremental_refresh("nc", t)  # folds cleanly


def test_changelog_incremental_refresh_iceberg(spark, tmp_path):
    """Iceberg CDC maintenance: the lake fold over the changelog scan
    reproduces a from-scratch aggregate after MOR and COW deletes —
    carryover delete+insert pairs from COW rewrites cancel exactly."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.plans import Measure
    from dremio_oss_spark.plans.reflections import ReflectionStore
    from dremio_oss_spark.sources.iceberg import (
        delete_from_iceberg,
        read_iceberg,
        resolve_snapshot,
        write_iceberg,
    )

    t = str(tmp_path / "base")
    write_iceberg(spark,
                  spark.createDataFrame(
                      [(i, i % 4, float(i)) for i in range(40)],
                      "k long, g long, v double"), t)
    store = ReflectionStore(spark, str(tmp_path / "refl"))
    refl = store.create_aggregation_reflection(
        "agg", read_iceberg(spark, t), "base", ["g"],
        [Measure("sum", "v"), Measure("count", "*")])
    refl.base_version = resolve_snapshot(t).snapshot_id

    write_iceberg(spark, spark.createDataFrame([(900, 2, 50.0)],
                                               "k long, g long, v double"),
                  t, mode="append")
    delete_from_iceberg(spark, t, "g = 3", mode="merge-on-read")
    delete_from_iceberg(spark, t, "k = 0")  # COW rewrite with carryovers

    n = store.snapshot_incremental_refresh("agg", t)
    assert n > 0
    got = {r["g"]: (float(r["sum_v"]), int(r["count_all"]))
           for r in store.load_materialization("agg").collect()}
    expect = {r["g"]: (float(r["s"]), int(r["c"])) for r in
              read_iceberg(spark, t).groupBy("g").agg(
                  F.sum("v").alias("s"), F.count("*").alias("c")).collect()}
    assert got == expect
    assert 3 not in got
    assert store.snapshot_incremental_refresh("agg", t) == 0


def test_plan_tree_substitution_soundness(spark):
    """The plan-tree matcher substitutes only inside its sound fragment:
    join + VDS queries accelerate; non-dim filters, outer joins,
    non-rollupable aggregates, and uncovered join edges fall through to
    normal planning with correct results."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.plans import JoinSpec, Measure

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    store = eng._default_refl_store()
    li, supp = spark.table("lineitem"), spark.table("supplier")
    store.create_aggregation_reflection(
        "li_nat_sound", li, table="lineitem",
        dims=["s_nationkey", "l_returnflag"],
        measures=[Measure("sum", "l_extendedprice"), Measure("count", "*")],
        joins=[JoinSpec("supplier", "l_suppkey", "s_suppkey")],
        dim_sources={"supplier": supp})

    base_sql = ("select s_nationkey, count(*) as n from lineitem "
                "join supplier on l_suppkey = s_suppkey ")

    # positive: sub-star (fact-only) and full-star both substitute
    df = eng.sql(base_sql + "where l_returnflag = 'R' group by s_nationkey")
    assert eng.last_plan_accelerated == "li_nat_sound"
    df2 = eng.sql("select l_returnflag, count(*) as n from lineitem "
                  "group by l_returnflag")
    assert eng.last_plan_accelerated == "li_nat_sound"
    exp = {(r[0], r[1]) for r in spark.sql(
        "select l_returnflag, count(*) from lineitem "
        "group by l_returnflag").collect()}
    assert {(r[0], r[1]) for r in df2.collect()} == exp

    # negative controls: each falls through (no substitution), still runs
    for sql in (
        base_sql + "where l_quantity > 30 group by s_nationkey",
        "select s_nationkey, count(*) as n from supplier left join "
        "lineitem on l_suppkey = s_suppkey group by s_nationkey",
        "select s_nationkey, avg(l_extendedprice) as a from lineitem "
        "join supplier on l_suppkey = s_suppkey group by s_nationkey",
        base_sql + "join orders on l_orderkey = o_orderkey "
        "group by s_nationkey",
        "select s_nationkey, count(distinct l_orderkey) as n from lineitem "
        "join supplier on l_suppkey = s_suppkey group by s_nationkey",
    ):
        res = eng.sql(sql)
        assert eng.last_plan_accelerated is None, sql
        assert res.count() > 0

    # probes never execute statements (INSERT guard)
    assert eng._plan_tree_accelerate("insert into x select 1") is None
    store.drop("li_nat_sound")


def test_raw_reflection_plan_tree_substitution(spark):
    """Raw reflections substitute through plain SQL via the plan tree:
    covered projection+filter+order+limit queries scan the narrow
    materialization; an uncovered column falls through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE RAW REFLECTION raw_pt "
            "USING DISPLAY (l_orderkey, l_quantity, l_shipdate) "
            "LOCALSORT BY (l_shipdate)")

    q = ("select l_orderkey, l_quantity as q from lineitem "
         "where l_shipdate >= '1997-06-01' "
         "order by l_orderkey, l_quantity limit 10")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "raw_pt"
    got = [(r[0], float(r[1])) for r in df.collect()]
    exp = [(r[0], float(r[1])) for r in spark.sql(q).collect()]
    assert got == exp
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "raw_pt" in plan and "lineitem.parquet" not in plan

    # uncovered column: no substitution, correct result
    df2 = eng.sql("select l_orderkey, l_extendedprice from lineitem "
                  "where l_shipdate >= '1998-01-01'")
    assert eng.last_plan_accelerated is None
    assert df2.count() > 0
    eng._default_refl_store().drop("raw_pt")


def test_distinct_and_groupby_only_substitution(spark):
    """Measure-less shapes — SELECT DISTINCT dims and GROUP BY with no
    aggregates — answer from a reflection as dim-distinct scans (this
    crashed with an empty agg() before), and uncovered columns fall
    through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION dflag "
            "USING DIMENSIONS (l_returnflag, l_linestatus) "
            "MEASURES (l_quantity (SUM))")

    df = eng.sql("select distinct l_returnflag from lineitem")
    assert eng.last_plan_accelerated == "dflag"
    assert sorted(r[0] for r in df.collect()) == ["A", "N", "R"]

    df = eng.sql("select l_returnflag from lineitem group by l_returnflag")
    assert eng.last_plan_accelerated == "dflag"
    assert sorted(r[0] for r in df.collect()) == ["A", "N", "R"]

    df = eng.sql("select distinct l_returnflag as f, l_linestatus "
                 "from lineitem where l_returnflag = 'A'")
    assert eng.last_plan_accelerated == "dflag"
    assert sorted(tuple(r) for r in df.collect()) == [("A", "F"),
                                                      ("A", "O")]

    df = eng.sql("select distinct l_tax from lineitem")
    assert eng.last_plan_accelerated is None
    assert df.count() > 0
    eng._default_refl_store().drop("dflag")


def test_having_substitution(spark):
    """HAVING over rollup-able measures substitutes (the conjuncts
    re-apply post-rollup on the materialization), including measures the
    SELECT list doesn't expose; non-rollupable HAVING falls through."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION rh "
            "USING DIMENSIONS (l_returnflag, l_linestatus) "
            "MEASURES (l_quantity (SUM), l_orderkey (COUNT))")

    q = ("select l_returnflag, sum(l_quantity) as s from lineitem "
         "group by l_returnflag having sum(l_quantity) > 20000 "
         "order by l_returnflag")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "rh"
    got = [(r[0], float(r[1])) for r in df.collect()]
    exp = [(r[0], float(r[1])) for r in spark.sql(q).collect()]
    assert [g[0] for g in got] == [e[0] for e in exp]
    assert all(abs(g[1] - e[1]) < 1e-6 for g, e in zip(got, exp))

    # HAVING on a measure the SELECT doesn't expose
    q2 = ("select l_returnflag from lineitem group by l_returnflag "
          "having count(l_orderkey) > 1000")
    df2 = eng.sql(q2)
    assert eng.last_plan_accelerated == "rh"
    assert sorted(r[0] for r in df2.collect()) == sorted(
        r[0] for r in spark.sql(q2).collect())

    # non-rollupable HAVING (avg) falls through, still correct
    q3 = ("select l_returnflag from lineitem group by l_returnflag "
          "having avg(l_quantity) > 25")
    df3 = eng.sql(q3)
    assert eng.last_plan_accelerated is None
    assert df3.count() == spark.sql(q3).count()
    eng._default_refl_store().drop("rh")


def test_substitution_review_regressions(spark):
    """Regression pack from review findings: duplicate aggregate
    outputs must not crash substitution, NULLS FIRST/LAST survives the
    substituted sort, and acceleration never errors a query that plans
    normally."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION rr "
            "USING DIMENSIONS (l_returnflag) MEASURES (l_quantity (SUM))")

    # duplicate aggregate outputs: one rollup column aliased twice
    q = ("select l_returnflag, sum(l_quantity) as a, sum(l_quantity) as b "
         "from lineitem group by l_returnflag")
    df = eng.sql(q)
    rows = {r[0]: (float(r[1]), float(r[2])) for r in df.collect()}
    exp = {r[0]: float(r[1]) for r in spark.sql(
        "select l_returnflag, sum(l_quantity) from lineitem "
        "group by l_returnflag").collect()}
    for k, (a, b) in rows.items():
        assert a == b and abs(a - exp[k]) < 1e-6

    # NULLS FIRST on a desc sort is preserved through substitution
    q2 = ("select l_returnflag, sum(l_quantity) as s from lineitem "
          "group by l_returnflag order by l_returnflag desc nulls first")
    got = [r[0] for r in eng.sql(q2).collect()]
    assert eng.last_plan_accelerated == "rr"
    assert got == [r[0] for r in spark.sql(q2).collect()]
    eng._default_refl_store().drop("rr")


def test_policy_drop_without_add_is_noop(spark):
    """Dropping/unsetting a policy that was never attached must be a
    clean no-op, not a missing-view error."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    from .conftest import SF_SMALL as _SF

    register_testdata(spark, _SF)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders DROP ROW ACCESS POLICY never_added")
    eng.sql("ALTER TABLE orders MODIFY COLUMN o_orderpriority "
            "UNSET MASKING POLICY")
    assert eng.sql("select count(*) c from orders").collect()[0][0] > 0


def test_count_distinct_dim_substitution(spark):
    """COUNT(DISTINCT dim) answers from a reflection carrying that
    column at dim grain — the distinct-count is computed over the
    materialization's finer grain, regular measures re-roll beside it;
    count-distinct over a non-dim column falls through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION rcd "
            "USING DIMENSIONS (l_returnflag, l_linestatus, l_shipdate) "
            "MEASURES (l_quantity (SUM))")

    def canon(df):
        return sorted(
            tuple(float(x) if isinstance(x, (int, float)) else
                  (float(x) if hasattr(x, "as_integer_ratio") else x)
                  for x in r)
            for r in df.collect())

    for q in (
        "select l_returnflag, count(distinct l_shipdate) as nd, "
        "cast(sum(l_quantity) as double) as s from lineitem "
        "group by l_returnflag order by l_returnflag",
        "select count(distinct l_shipdate) as nd from lineitem",
        "select l_returnflag, count(distinct l_linestatus) as nd "
        "from lineitem where l_shipdate >= '1997-01-01' "
        "group by l_returnflag",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "rcd", q
        assert canon(df) == canon(spark.sql(q)), q

    df = eng.sql("select count(distinct l_orderkey) as nd from lineitem")
    assert eng.last_plan_accelerated is None
    assert df.collect()[0][0] == spark.sql(
        "select count(distinct l_orderkey) from lineitem").collect()[0][0]
    eng._default_refl_store().drop("rcd")


def test_count_col_null_aware_substitution(spark):
    """ADVICE r5 (high): count(nullable_col) must NOT be answered by a
    count(*) partial.  Per-column counts materialize null-aware
    (F.count(col)) under `count_<col>`, match separately from
    count_all, and a count(col) query against a reflection that only
    carries count(*) falls through."""
    from pyspark.sql import Row

    from dremio_oss_spark.engine import Engine

    rows = [Row(g="a", v=1.0), Row(g="a", v=None), Row(g="b", v=2.0),
            Row(g="b", v=None), Row(g="b", v=3.0), Row(g="c", v=None)]
    spark.createDataFrame(rows).createOrReplaceTempView("nulltab")
    eng = Engine(spark)
    eng.sql("ALTER TABLE nulltab CREATE AGGREGATE REFLECTION rnull "
            "USING DIMENSIONS (g) MEASURES (v (COUNT, SUM))")
    df = eng.sql("select g, count(v) as nv from nulltab "
                 "group by g order by g")
    assert eng.last_plan_accelerated == "rnull"
    assert [(r.g, r.nv) for r in df.collect()] == [
        ("a", 1), ("b", 2), ("c", 0)]
    # avg over the same partials: sum/count with the null-aware count
    df2 = eng.sql("select g, avg(v) as av from nulltab "
                  "group by g order by g")
    assert eng.last_plan_accelerated == "rnull"
    got = [(r.g, r.av) for r in df2.collect()]
    assert got[0] == ("a", 1.0) and got[1] == ("b", 2.5)
    assert got[2] == ("c", None)  # all-null group: count 0 -> NULL avg
    # count(*) answers from the IMPLICIT row-count partial every
    # aggregation reflection now carries
    eng.sql("select g, count(*) as n from nulltab group by g")
    assert eng.last_plan_accelerated == "rnull"
    eng._default_refl_store().drop("rnull")


def test_qualified_name_collision_refuses(spark):
    """ADVICE r5 (medium): a query column whose bare name is owned by a
    DIFFERENT table in the reflection's star (or duplicated across star
    tables) must refuse substitution instead of rolling up the wrong
    column."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.plans.substitution import (_owner_ok,
                                                     extract_agg_query)

    register_testdata(spark, SF_SMALL)
    analyzed = (spark.sql(
        "select l_returnflag, sum(l_quantity) as s from lineitem "
        "group by l_returnflag")._jdf.queryExecution().analyzed().toJSON())
    ex = extract_agg_query(analyzed)
    assert ex is not None and ex.qualified["l_quantity"] == "lineitem"

    class _R:  # minimal reflection stand-ins
        def __init__(self, owner):
            self.col_owner = owner

    ok = {"l_returnflag": "lineitem", "l_quantity": "lineitem"}
    assert _owner_ok(_R(ok), ex)
    assert _owner_ok(_R(None), ex)  # legacy store: bare-name behavior
    # l_quantity owned by another star table -> refuse
    assert not _owner_ok(_R({**ok, "l_quantity": "dim_other"}), ex)
    # duplicated across star tables (owner None) -> refuse
    assert not _owner_ok(_R({**ok, "l_quantity": None}), ex)


def test_substituted_dtype_matches_unaccelerated(spark):
    """ADVICE r5 (low): acceleration must be invisible in the result
    SCHEMA — a substituted sum(double_col) with no explicit cast must
    come back as double, not the reflection's decimal(28,4) partial."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION rdt "
            "USING DIMENSIONS (l_returnflag) "
            "MEASURES (l_quantity (SUM, COUNT))")
    q = ("select l_returnflag, sum(l_quantity) as s, avg(l_quantity) as a "
         "from lineitem group by l_returnflag")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "rdt"
    assert df.schema == spark.sql(q).schema  # dtype-identical
    eng._default_refl_store().drop("rdt")


def test_base_snapshot_views_are_unreachable(spark):
    """ADVICE r5 (medium): the pre-policy `__base_<t>` snapshot must not
    be readable through Engine.sql or Engine.table — otherwise any SQL
    client (REST/Flight included) bypasses row-access/masking policies."""
    import pytest as _pytest

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("create function only_urgent(p string) returns boolean "
            "return p = '1-URGENT'")
    eng.sql("alter table orders add row access policy "
            "only_urgent(o_orderpriority)")
    try:
        n_policied = eng.sql("select count(*) c from orders").collect()[0][0]
        n_all = spark.table("__base_orders").count()  # raw spark CAN see it
        assert 0 < n_policied < n_all
        with _pytest.raises(PermissionError):
            eng.sql("select * from __base_orders")
        with _pytest.raises(PermissionError):
            eng.table("__base_orders")
    finally:
        eng.sql("alter table orders drop row access policy only_urgent")


def test_cdf_refresh_requires_count_star(spark, tmp_path):
    """CDF/changelog refresh needs count(*) specifically: a null-aware
    count(col) can be 0 while rows remain, so it cannot detect
    fully-emptied groups."""
    import pytest as _pytest

    from dremio_oss_spark.plans import Measure, ReflectionStore
    from dremio_oss_spark.plans.reflections import (Reflection,
                                                    unsignable_reason)

    store = ReflectionStore(spark, str(tmp_path / "refl"))
    bad = Reflection("b", "t", ("g",),
                     (Measure("sum", "v"), Measure("count", "v")),
                     str(tmp_path / "b"))
    store._reflections["b"] = bad
    with _pytest.raises(ValueError, match="COUNT"):
        store.snapshot_incremental_refresh("b", str(tmp_path))
    good = Reflection("g", "t", ("g",),
                      (Measure("count", "*"), Measure("count", "v")),
                      str(tmp_path / "g"))
    assert unsignable_reason(good.measures) is None  # count(*) present


def test_reflection_auto_refresh_on_commit(spark, tmp_path):
    """Dependency-driven freshness (ReflectionServiceImpl shape): a
    commit on the base dataset marks dependent reflections STALE and
    they auto-refresh before the next substitution — the query returns
    the NEW data, still accelerated, with no manual refresh call.  With
    auto-refresh off, the stale materialization keeps serving (TTL
    mode) until REFRESH REFLECTION."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine

    folder = str(tmp_path / "ds")
    spark.range(10).select(
        (F.col("id") % 2).alias("g"), F.col("id").cast("double").alias("v")
    ).write.parquet(folder)
    eng = Engine(spark)
    eng.promote_folder_dataset("autoref", folder)
    eng.sql("ALTER TABLE autoref CREATE AGGREGATE REFLECTION r_auto "
            "USING DIMENSIONS (g) MEASURES (v (SUM, COUNT))")
    q = ("select g, cast(sum(v) as double) as s from autoref "
         "group by g order by g")
    try:
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "r_auto"
        v1 = [(r.g, r.s) for r in df.collect()]

        # out-of-band commit + REFRESH DATASET = the engine's commit signal
        spark.range(100, 104).select(
            (F.col("id") % 2).alias("g"),
            F.col("id").cast("double").alias("v")
        ).write.parquet(folder + "/extra")
        eng.sql("refresh dataset autoref")
        st = {r.reflection_name: r.status
              for r in eng.sys_reflections().collect()}
        assert st["r_auto"] == "STALE"

        df2 = eng.sql(q)
        assert eng.last_plan_accelerated == "r_auto"
        v2 = [(r.g, r.s) for r in df2.collect()]
        assert v2 != v1  # refreshed: the committed rows are in
        exp = [(r.g, r.s) for r in spark.sql(
            "select g, cast(sum(v) as double) as s from autoref "
            "group by g order by g").collect()]
        assert v2 == exp
        st = {r.reflection_name: r.status
              for r in eng.sys_reflections().collect()}
        assert st["r_auto"] == "CAN_ACCELERATE"

        # TTL mode: auto-refresh off -> stale materialization keeps
        # serving until an explicit REFRESH REFLECTION
        eng.sql('alter session set '
                '"spark.dremio.reflections.autoRefresh" = false')
        spark.range(200, 202).select(
            (F.col("id") % 2).alias("g"),
            F.col("id").cast("double").alias("v")
        ).write.parquet(folder + "/extra2")
        eng.sql("refresh dataset autoref")
        df3 = eng.sql(q)
        assert eng.last_plan_accelerated == "r_auto"
        assert [(r.g, r.s) for r in df3.collect()] == v2  # still old
        eng.sql("refresh reflection r_auto")
        df4 = eng.sql(q)
        assert [(r.g, r.s) for r in df4.collect()] == [
            (r.g, r.s) for r in spark.sql(
                "select g, cast(sum(v) as double) as s from autoref "
                "group by g order by g").collect()]
    finally:
        eng.sql('alter session reset '
                '"spark.dremio.reflections.autoRefresh"')
        eng._default_refl_store().drop("r_auto")
        spark.catalog.dropTempView("autoref")


def test_avg_having_substitution(spark):
    """HAVING over an avg output substitutes (the predicate re-renders
    against the sum/count partials) and matches the unaccelerated run."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION rah "
            "USING DIMENSIONS (l_returnflag) "
            "MEASURES (l_quantity (SUM, COUNT))")
    q = ("select l_returnflag, avg(l_quantity) as aq from lineitem "
         "group by l_returnflag having avg(l_quantity) > 25 "
         "order by l_returnflag")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "rah"
    assert [(r.l_returnflag, r.aq) for r in df.collect()] == \
        [(r.l_returnflag, r.aq) for r in spark.sql(q).collect()]
    eng._default_refl_store().drop("rah")


def test_path_anchored_reflection_lifecycle(spark, tmp_path):
    """Reflections on PHYSICAL lake datasets — the reference's primary
    acceleration anchor: `ALTER TABLE '<path>' CREATE AGGREGATE
    REFLECTION`, plain SQL over the quoted path answers from the
    materialization, engine lake DML marks it stale, and the refresh is
    CHANGE-FEED-driven (signed CDC fold) with a full-rebuild fallback —
    queries after INSERT *and* after DELETE are fresh and accelerated.
    Time travel over the same path must never answer from the
    current-state materialization."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta

    t = str(tmp_path / "sales")
    df = spark.range(100).select(
        (F.col("id") % 4).alias("g"), F.col("id").cast("double").alias("v"))
    write_delta(spark, df, t, enable_cdf=True)
    eng = Engine(spark)
    eng.sql(f"ALTER TABLE '{t}' CREATE AGGREGATE REFLECTION p_sales "
            "USING DIMENSIONS (g) MEASURES (v (SUM, COUNT))")
    store = eng._default_refl_store()
    refl = store._reflections["p_sales"]
    # path-anchored reflections auto-carry count(*) so the SIGNED
    # change-feed fold maintains them under DML; prove the refreshes
    # below actually take the CDC path by poisoning the rebuild fallback
    from dremio_oss_spark.plans import Measure
    assert Measure("sum", "v") in refl.measures
    assert Measure("count", "*") in refl.measures
    real_rebuild = store.rebuild

    def no_rebuild(*a, **kw):
        raise AssertionError("full rebuild used where CDC fold expected")

    store.rebuild = no_rebuild

    q = (f"select g, cast(sum(v) as double) as s from '{t}' "
         "group by g order by g")

    def direct():
        return [(r.g, r.s) for r in spark.sql(
            "select g, cast(sum(v) as double) as s from "
            f"delta_direct group by g order by g").collect()]

    try:
        out = eng.sql(q)
        assert eng.last_plan_accelerated == "p_sales", "path subst missed"
        v1 = [(r.g, r.s) for r in out.collect()]

        # INSERT through the engine -> stale -> fresh on next query
        eng.sql(f"insert into '{t}' select id % 4 as g, "
                "cast(id as double) as v from range(100, 120)")
        st = {r.reflection_name: r.status
              for r in eng.sys_reflections().collect()}
        assert st["p_sales"] == "STALE"
        out2 = eng.sql(q)
        assert eng.last_plan_accelerated == "p_sales"
        v2 = [(r.g, r.s) for r in out2.collect()]
        from dremio_oss_spark.sources.delta import read_delta
        read_delta(spark, t).createOrReplaceTempView("delta_direct")
        assert v2 == direct() and v2 != v1

        # DELETE -> the signed fold (or rebuild fallback) stays correct
        eng.sql(f"delete from '{t}' where v >= 110")
        out3 = eng.sql(q)
        assert eng.last_plan_accelerated == "p_sales"
        read_delta(spark, t).createOrReplaceTempView("delta_direct")
        assert [(r.g, r.s) for r in out3.collect()] == direct()

        # time travel must NOT answer from the current-state reflection
        df_tt = eng.sql(f"select g, sum(v) as s from '{t}' at snapshot "
                        "'0' group by g order by g")
        assert eng.last_plan_accelerated is None
        assert df_tt.count() == 4
    finally:
        store.rebuild = real_rebuild
        store.drop("p_sales")


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_stale_reflection_refreshes_only_when_considered(spark, tmp_path,
                                                         fmt):
    """A stale path reflection refreshes when a matcher considers it, not
    before every SELECT: a MERGE whose source reads another table leaves
    the reflection stale and unrefreshed, and the next aggregate read
    over the path refreshes it once and returns the plain-Spark
    answer."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources import delta as D
    from dremio_oss_spark.sources import iceberg as I

    write, read = ((D.write_delta, D.read_delta) if fmt == "delta"
                   else (I.write_iceberg, I.read_iceberg))
    t = str(tmp_path / fmt)
    write(spark, spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(30)],
        "k long, g long, v double"), t)
    spark.createDataFrame([(k, k % 3, 100.0 + k) for k in range(25, 35)],
                          "k long, g long, v double") \
        .createOrReplaceTempView("considered_src")
    eng = Engine(spark)
    eng.sql(f"ALTER TABLE '{t}' CREATE AGGREGATE REFLECTION considered_r "
            "USING DIMENSIONS (g) MEASURES (v (SUM, COUNT))")
    store = eng._default_refl_store()
    refl = store._reflections["considered_r"]
    q = (f"select g, cast(sum(v) as double) as s, count(*) as n "
         f"from '{t}' group by g order by g")
    try:
        eng.sql(f"insert into '{t}' select id as k, id % 3 as g, "
                "cast(id as double) as v from range(30, 40)")
        assert refl.stale
        gen = refl.generation
        eng.sql(f"MERGE INTO '{t}' USING (select k, g, v from "
                "considered_src) s ON t.k = s.k "
                "WHEN MATCHED THEN UPDATE SET * "
                "WHEN NOT MATCHED THEN INSERT *")
        assert refl.stale and refl.generation == gen
        got = [tuple(r) for r in eng.sql(q).collect()]
        assert eng.last_plan_accelerated == "considered_r"
        assert not refl.stale and refl.generation == gen + 1
        read(spark, t).createOrReplaceTempView("considered_direct")
        assert got == [tuple(r) for r in spark.sql(
            "select g, cast(sum(v) as double) as s, count(*) as n "
            "from considered_direct group by g order by g").collect()]
    finally:
        store.drop("considered_r")


@pytest.mark.parametrize("cdf", [False, True])
def test_path_reflection_reports_refresh_mode(spark, tmp_path, cdf):
    """sys.reflections reports how a Delta path reflection last
    refreshed: without the change data feed a full rebuild, with its
    reason; with it an incremental fold.  Neither counts an error."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta

    t = str(tmp_path / "t")
    write_delta(spark, spark.createDataFrame(
        [(k, k % 2, float(k)) for k in range(20)],
        "k long, g long, v double"), t, enable_cdf=cdf)
    eng = Engine(spark)
    eng.sql(f"ALTER TABLE '{t}' CREATE AGGREGATE REFLECTION mode_r "
            "USING DIMENSIONS (g) MEASURES (v (SUM, COUNT))")
    try:
        eng.sql(f"delete from '{t}' where k < 4")
        eng.sql(f"select g, sum(v) as s from '{t}' group by g").collect()
        assert eng.last_plan_accelerated == "mode_r"
        row = eng.sql("select refresh_mode, refresh_reason, refresh_errors "
                      "from sys.reflections "
                      "where reflection_name = 'mode_r'").first()
        assert tuple(row) == (
            ("incremental", None, 0) if cdf else
            ("full", "delta.enableChangeDataFeed is not set", 0))
    finally:
        eng._default_refl_store().drop("mode_r")


def test_failed_refresh_quarantines_reflection(spark, tmp_path):
    """Review r6: a refresh that RAISES (column dropped from under the
    reflection) must never break unrelated queries — the reflection is
    quarantined INVALID, stops matching, and queries plan normally
    (surfacing the real error for queries that need the gone column)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta

    t = str(tmp_path / "tq")
    write_delta(spark, spark.range(40).select(
        (F.col("id") % 2).alias("g"),
        F.col("id").cast("double").alias("v")), t)
    eng = Engine(spark)
    eng.sql(f"ALTER TABLE '{t}' CREATE AGGREGATE REFLECTION q_tq "
            "USING DIMENSIONS (g) MEASURES (v (SUM))")
    store = eng._default_refl_store()
    try:
        eng.sql(f"select g, count(*) as n from '{t}' group by g")
        assert eng.last_plan_accelerated == "q_tq"

        eng.sql(f"alter table '{t}' drop column v")  # schema commit
        assert store._reflections["q_tq"].stale

        # unrelated query: refresh fails inside, query still works
        df = eng.sql(f"select g, count(*) as n from '{t}' "
                     "group by g order by g")
        assert eng.last_plan_accelerated is None  # quarantined, no match
        assert [r.n for r in df.collect()] == [20, 20]
        st = {r.reflection_name: r.status
              for r in eng.sys_reflections().collect()}
        assert st["q_tq"] == "INVALID"

        # a query needing the dropped column surfaces the REAL error
        with _pytest.raises(Exception):
            eng.sql(f"select g, sum(v) as s from '{t}' group by g")
    finally:
        store.drop("q_tq")


def test_distributed_plan_time_travel_metadata(spark, tmp_path,
                                               monkeypatch):
    """Review r6: the distributed Delta planner must use the schema and
    partition columns of the TIME-TRAVELED version, not the head's — an
    overwrite that changes partitioning would otherwise mis-prune every
    historical file."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources import delta as d_mod
    from dremio_oss_spark.sources.delta import (
        _DISTRIBUTED_THRESHOLD_KEY, plan_delta_scan, write_delta)

    t = str(tmp_path / "tt")
    v0 = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"),
        F.col("id").cast("double").alias("v"))
    write_delta(spark, v0, t, partition_by=["p"])          # version 0
    v1 = spark.range(40).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("q"),
        F.col("id").cast("double").alias("v"))
    write_delta(spark, v1, t, mode="overwrite",
                partition_by=["q"])                        # version 1

    base, total0, kept0 = plan_delta_scan(spark, t, {"p": 1}, version=0)
    rows0 = sorted((r.k, r.p, r.v) for r in base.collect())
    assert kept0 > 0

    spark.conf.set(_DISTRIBUTED_THRESHOLD_KEY, "1")
    real = d_mod.resolve_snapshot
    monkeypatch.setattr(
        d_mod, "resolve_snapshot",
        lambda *a, **kw: (_ for _ in ()).throw(AssertionError("py path")))
    try:
        got, gtotal, gkept = plan_delta_scan(spark, t, {"p": 1},
                                             version=0)
        assert (gtotal, gkept) == (total0, kept0)
        assert sorted((r.k, r.p, r.v) for r in got.collect()) == rows0
        # head query prunes on the NEW partition column
        got1, _, gk1 = plan_delta_scan(spark, t, {"q": 1})
        assert gk1 >= 1 and got1.where("q <> 1").count() == 0
    finally:
        monkeypatch.setattr(d_mod, "resolve_snapshot", real)
        spark.conf.unset(_DISTRIBUTED_THRESHOLD_KEY)


def test_expression_measure_incremental_and_cdc(spark, tmp_path):
    """Expression measures survive BOTH refresh paths: the watermark
    incremental merge and the signed CDF fold (the per-row expression
    re-evaluates over new/changed rows only)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.plans import Measure, ReflectionStore
    from dremio_oss_spark.sources.delta import (delete_from_delta,
                                                read_delta, write_delta)

    expr = "(price * (1 - disc))"
    rows = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
        (F.col("id") * 1.0).alias("price"),
        (F.lit(0.1)).alias("disc"))

    # watermark incremental
    store = ReflectionStore(spark, str(tmp_path / "r"))
    store.create_aggregation_reflection(
        "em", rows.where("k < 60"), table="t", dims=["g"],
        measures=[Measure("sum", expr), Measure("count", "*")],
        watermark_col="k")
    assert store.incremental_refresh("em", rows) > 0
    from dremio_oss_spark.plans import AggQuery
    q = AggQuery(table="t", dims=("g",),
                 measures=(Measure("sum", expr), Measure("count", "*")))
    df, sub = store.execute(q, rows)
    assert sub
    got = {r["g"]: float(r[Measure("sum", expr).name]) for r in df.collect()}
    exp = {r["g"]: r["e"] for r in rows.groupBy("g").agg(
        F.sum(F.expr(expr)).alias("e")).collect()}
    assert all(abs(got[g] - exp[g]) < 1e-6 for g in exp)

    # signed CDF fold under DELETE
    t = str(tmp_path / "d")
    write_delta(spark, rows, t, enable_cdf=True)
    store2 = ReflectionStore(spark, str(tmp_path / "r2"))
    refl = store2.create_aggregation_reflection(
        "em2", read_delta(spark, t), table="t2", dims=["g"],
        measures=[Measure("sum", expr), Measure("count", "*")])
    refl.base_version = 0
    delete_from_delta(spark, t, "k >= 80")
    assert store2.snapshot_incremental_refresh("em2", t) > 0
    df2, sub2 = store2.execute(
        AggQuery(table="t2", dims=("g",),
                 measures=(Measure("sum", expr),)), None)
    assert sub2
    got2 = {r["g"]: float(r[Measure("sum", expr).name])
            for r in df2.collect()}
    exp2 = {r["g"]: r["e"] for r in rows.where("k < 80").groupBy("g").agg(
        F.sum(F.expr(expr)).alias("e")).collect()}
    assert all(abs(got2[g] - exp2[g]) < 1e-6 for g in exp2)


def test_cast_soundness_refusals(spark):
    """Review r6 pack: value-changing casts must REFUSE substitution —
    min(cast(x as string)) is a lexicographic min, sum over a truncating
    cast differs per-row, cast group keys are non-injective, and
    integer- vs decimal-literal arithmetic must not cross-match."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION rc "
            "USING DIMENSIONS (l_returnflag, l_quantity) "
            "MEASURES (l_extendedprice (SUM, MIN), "
            "((l_extendedprice * 2)) (SUM))")
    store = eng._default_refl_store()
    try:
        # sanity: the plain and expression forms DO accelerate
        eng.sql("select l_returnflag, min(l_extendedprice) as m "
                "from lineitem group by l_returnflag")
        assert eng.last_plan_accelerated == "rc"
        eng.sql("select l_returnflag, "
                "cast(sum(l_extendedprice * 2) as double) as s "
                "from lineitem group by l_returnflag")
        assert eng.last_plan_accelerated == "rc"

        unsound = (
            # lexicographic vs numeric min
            "select l_returnflag, min(cast(l_extendedprice as string)) "
            "as m from lineitem group by l_returnflag",
            # truncating cast inside the sum argument
            "select l_returnflag, sum(cast(l_extendedprice as int) * 2) "
            "as s from lineitem group by l_returnflag",
            # bare user cast directly under the aggregate
            "select l_returnflag, sum(cast(l_extendedprice as "
            "decimal(6,0))) as s from lineitem group by l_returnflag",
            # non-injective cast group key
            "select cast(l_quantity as int) as q, count(*) as n "
            "from lineitem group by cast(l_quantity as int)",
            # integer-literal arithmetic must not match the 2.0 shape
            "select l_returnflag, sum(l_extendedprice * 2.0) as s "
            "from lineitem group by l_returnflag",
        )
        for q in unsound:
            df = eng.sql(q)
            assert eng.last_plan_accelerated is None, q
            assert df.count() > 0, q
    finally:
        store.drop("rc")


def test_leftjoin_star_substitution_null_extension(spark, tmp_path):
    """LEFT OUTER star edges: a reflection declaring JOINS (LEFT dim ...)
    must answer the fact-LEFT-JOIN-dim rollup INCLUDING the null-extended
    group (fact keys with no dim match), and the matcher must refuse the
    unsound variants.  Reference: outer-join materialization matching,
    SubstitutionProvider.java:40 / PlannerPhase.java:145-169."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine

    fact = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(100)],
        "fk long, dimk long, m double")           # dimk 0..6
    dim = spark.createDataFrame(
        [(k, f"g{k % 2}") for k in range(5)],      # dim keys 0..4 only
        "dk long, grp string")                     # -> dimk 5,6 unmatched
    fact.createOrReplaceTempView("lj_fact")
    dim.createOrReplaceTempView("lj_dim")
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE lj_fact CREATE AGGREGATE REFLECTION t_ljn "
        "USING DIMENSIONS (grp) MEASURES (m (SUM), fk (COUNT)) "
        "JOINS (LEFT lj_dim ON dimk = dk)")
    df = eng.sql(
        "select grp, sum(m) as s, count(fk) as n "
        "from lj_fact left join lj_dim on dimk = dk group by grp")
    assert eng.last_plan_accelerated == "t_ljn"
    got = {r["grp"]: (float(r["s"]), r["n"]) for r in df.collect()}
    exp_df = (fact.join(dim, F.col("dimk") == F.col("dk"), "left")
              .groupBy("grp")
              .agg(F.sum("m").alias("s"), F.count("fk").alias("n")))
    exp = {r["grp"]: (float(r["s"]), r["n"]) for r in exp_df.collect()}
    assert got == exp
    assert None in got, "null-extended group missing from the rollup"

    # inner query edge must NOT match the LEFT reflection edge
    eng.sql("select grp, sum(m) as s from lj_fact "
            "join lj_dim on dimk = dk group by grp")
    assert eng.last_plan_accelerated is None
    # filter on the nullable side must fall through (and stay correct)
    df2 = eng.sql("select grp, sum(m) as s from lj_fact "
                  "left join lj_dim on dimk = dk "
                  "where grp = 'g1' group by grp")
    assert eng.last_plan_accelerated is None
    assert df2.count() == 1
    # RIGHT outer refuses entirely
    eng.sql("select grp, sum(m) as s from lj_fact "
            "right join lj_dim on dimk = dk group by grp")
    assert eng.last_plan_accelerated is None
    eng.sql("ALTER TABLE lj_fact DROP REFLECTION t_ljn")


def test_selfjoin_vds_reflection_accelerates(spark):
    """Self-join stars accelerate through VDS anchoring: the reflection
    keys on the VDS identity, and the plan-tree extractor takes a view
    carrying a reflection as one leaf, so a rollup over the view
    substitutes without ever walking the view's internal self-join
    (which the IR refuses — see COVERAGE.md deviations).  This is the
    reference's view-acceleration UX for the same shape
    (SubstitutionProvider.java matches the query tree against the view
    tree; anchoring on the view sidesteps per-occurrence bindings)."""
    from dremio_oss_spark.engine import Engine

    df = spark.createDataFrame(
        [(i, (i // 5) if i >= 5 else None, float(i)) for i in range(50)],
        "emp_id long, mgr_id long, sal double")
    df.createOrReplaceTempView("emp_sj")
    eng = Engine(spark)
    eng.create_space("hr")
    eng.create_vds(
        "hr", "empmgr",
        "select e.emp_id as emp_id, e.sal as sal, m.emp_id as mgr "
        "from emp_sj e join emp_sj m on e.mgr_id = m.emp_id")
    eng.sql("ALTER VDS hr.empmgr CREATE AGGREGATE REFLECTION t_self "
            "USING DIMENSIONS (mgr) MEASURES (sal (SUM, COUNT))")
    out = eng.sql("select mgr, sum(sal) as s, count(sal) as n "
                  "from hr.empmgr group by mgr order by mgr")
    assert eng.last_plan_accelerated == "t_self"
    got = [(r["mgr"], float(r["s"]), r["n"]) for r in out.collect()]
    base = spark.sql(
        "select m.emp_id as mgr, sum(e.sal) as s, count(e.sal) as n "
        "from emp_sj e join emp_sj m on e.mgr_id = m.emp_id "
        "group by m.emp_id order by mgr").collect()
    assert got == [(r["mgr"], float(r["s"]), r["n"]) for r in base]

    # INLINE self-join (no VDS anchor) must fall through, and still
    # compute correctly through normal planning
    out2 = eng.sql(
        "select m.emp_id as mgr2, sum(e.sal) as s "
        "from emp_sj e join emp_sj m on e.mgr_id = m.emp_id "
        "group by m.emp_id order by mgr2")
    assert eng.last_plan_accelerated is None
    assert out2.count() == len(got)
    eng.sql("ALTER TABLE hr.empmgr DROP REFLECTION t_self")


def test_leftjoin_with_distinct_agg_over_nullable_dim(spark):
    """Interaction of the two round-7 features: COUNT(DISTINCT x) where
    x lives on the LEFT join's null-extended side — countDistinct over
    the materialization ignores the null-extended NULLs exactly as the
    base query's distinct count does, so the rollup is exact."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine

    fact = spark.createDataFrame(
        [(i, i % 7, float(i)) for i in range(100)],
        "fk long, dimk long, m double")
    dim = spark.createDataFrame(
        [(k, f"g{k % 2}") for k in range(5)], "dk long, grp string")
    fact.createOrReplaceTempView("ljf2")
    dim.createOrReplaceTempView("ljd2")
    eng = Engine(spark)
    eng.sql("ALTER TABLE ljf2 CREATE AGGREGATE REFLECTION t_ljcd "
            "USING DIMENSIONS (grp, dimk) MEASURES (m (SUM)) "
            "JOINS (LEFT ljd2 ON dimk = dk)")
    out = eng.sql("select dimk, count(distinct grp) as ng, sum(m) as s "
                  "from ljf2 left join ljd2 on dimk = dk "
                  "group by dimk order by dimk")
    assert eng.last_plan_accelerated == "t_ljcd"
    got = [(r["dimk"], r["ng"], float(r["s"])) for r in out.collect()]
    base = (fact.join(dim, F.col("dimk") == F.col("dk"), "left")
            .groupBy("dimk")
            .agg(F.countDistinct("grp").alias("ng"),
                 F.sum("m").alias("s"))
            .orderBy("dimk").collect())
    assert got == [(r["dimk"], r["ng"], float(r["s"])) for r in base]
    eng.sql("ALTER TABLE ljf2 DROP REFLECTION t_ljcd")


def test_leftjoin_star_substitutes_through_vds(spark):
    """The LEFT-star matcher composes with view expansion: a VDS
    defined as fact LEFT JOIN dim, aliased columns and all, answers
    from a reflection declaring the same left edge — values checked
    against the unaccelerated plan."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    from .conftest import SF_SMALL

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.create_space("mk7")
    eng.create_vds(
        "mk7", "ordseg",
        "select o.o_orderpriority as prio, c.c_mktsegment as seg, "
        "o.o_totalprice as price from orders o "
        "left join customer c on o.o_custkey = c.c_custkey")
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION t_vlj "
            "USING DIMENSIONS (c_mktsegment, o_orderpriority) "
            "MEASURES (o_totalprice (SUM)) "
            "JOINS (LEFT customer ON o_custkey = c_custkey)")
    out = eng.sql("select seg, sum(price) as s from mk7.ordseg "
                  "group by seg order by seg")
    assert eng.last_plan_accelerated == "t_vlj"
    got = [(r["seg"], round(float(r["s"]), 2)) for r in out.collect()]
    base = spark.sql(
        "select c.c_mktsegment as seg, sum(o.o_totalprice) as s "
        "from orders o left join customer c on o.o_custkey = c.c_custkey "
        "group by seg order by seg").collect()
    assert got == [(r["seg"], round(float(r["s"]), 2)) for r in base]
    eng.sql("ALTER TABLE orders DROP REFLECTION t_vlj")


def test_refresh_preserves_previous_generation_for_inflight_reads(spark):
    """Materialization refreshes publish a NEW generation directory and
    keep the just-superseded one, so a DataFrame analyzed against the
    old generation still collects after a refresh lands — the guarantee
    that lets server execution run outside the engine lock (reference:
    per-refresh materialization ids)."""
    import os

    from dremio_oss_spark.engine import Engine

    df = spark.createDataFrame(
        [(i % 4, float(i)) for i in range(40)], "k long, v double")
    df.createOrReplaceTempView("gen_t")
    eng = Engine(spark)
    eng.sql("ALTER TABLE gen_t CREATE AGGREGATE REFLECTION t_gen "
            "USING DIMENSIONS (k) MEASURES (v (SUM))")
    store = eng._refl_store
    refl = store._reflections["t_gen"]
    g1 = store._data_dir(refl)
    old_df = eng.sql("select k, sum(v) as s from gen_t group by k")
    assert eng.last_plan_accelerated == "t_gen"

    store.rebuild("t_gen", spark.table("gen_t"))   # publishes gen+1
    g2 = store._data_dir(refl)
    assert g2 != g1 and os.path.isdir(g2)
    assert os.path.isdir(g1), "previous generation must survive one refresh"
    # the pre-refresh plan still scans its (retained) generation
    assert old_df.count() == 4

    store.rebuild("t_gen", spark.table("gen_t"))   # second refresh
    assert not os.path.isdir(g1), "two-refresh-old generation must be GC'd"
    new_df = eng.sql("select k, sum(v) as s from gen_t group by k")
    assert eng.last_plan_accelerated == "t_gen" and new_df.count() == 4
    eng.sql("ALTER TABLE gen_t DROP REFLECTION t_gen")


def test_avg_distinct_and_having_distinct_substitution(spark):
    """AVG(DISTINCT x) substitutes as sum_distinct/countDistinct over
    the stored dim grain, and a HAVING over a distinct agg re-applies
    post-rollup — including the HAVING-ONLY case where the top
    projection drops the distinct agg's output (the rollup must still
    compute it; resolving the dropped name against per-cell partials
    would return garbage).  Controls: AVG(DISTINCT <expression>) and a
    HAVING over a distinct agg whose base column the reflection lacks
    both fall through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION rad "
            "USING DIMENSIONS (l_returnflag, l_quantity, l_shipdate) "
            "MEASURES (l_orderkey (COUNT))")

    def canon(df):
        return sorted(
            tuple(round(float(x), 9) if isinstance(x, (int, float)) else x
                  for x in r)
            for r in df.collect())

    for q in (
        # avg(distinct) as an output
        "select l_returnflag, avg(distinct l_quantity) as a "
        "from lineitem group by l_returnflag order by l_returnflag",
        # having over a distinct agg that IS an output
        "select l_returnflag, count(distinct l_shipdate) as nd "
        "from lineitem group by l_returnflag "
        "having count(distinct l_shipdate) > 10",
        # HAVING-ONLY: projection drops the distinct agg's output
        "select l_returnflag, count(l_orderkey) as n "
        "from lineitem group by l_returnflag "
        "having sum(distinct l_quantity) > 100",
        # HAVING-only avg(distinct)
        "select l_returnflag from lineitem group by l_returnflag "
        "having avg(distinct l_quantity) > 1",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "rad", q
        assert canon(df) == canon(spark.sql(q)), q

    # control: expression argument under DISTINCT falls through
    eng.sql("select l_returnflag, avg(distinct l_quantity * 2) as a "
            "from lineitem group by l_returnflag")
    assert eng.last_plan_accelerated is None
    # control: HAVING over a distinct agg on a non-dim column
    eng.sql("select l_returnflag from lineitem group by l_returnflag "
            "having count(distinct l_orderkey) > 0")
    assert eng.last_plan_accelerated is None
    eng._default_refl_store().drop("rad")


def test_rightjoin_star_normalizes_to_left(spark):
    """`dim RIGHT JOIN fact` substitutes against a reflection declaring
    the equivalent LEFT edge — the extractor swaps children and reuses
    the left-preserving path.  FULL OUTER still falls through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql(
        "ALTER TABLE orders CREATE AGGREGATE REFLECTION t_rj "
        "USING DIMENSIONS (c_mktsegment, o_orderpriority) "
        "MEASURES (o_totalprice (SUM), o_orderkey (COUNT)) "
        "JOINS (LEFT customer ON o_custkey = c_custkey)")
    q = ("select c_mktsegment, sum(o_totalprice) as rev, "
         "count(o_orderkey) as n "
         "from customer right join orders on o_custkey = c_custkey "
         "group by c_mktsegment order by c_mktsegment")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "t_rj", \
        "right-join normalization missed"

    def canon(d):
        return sorted(tuple(round(float(x), 6)
                            if isinstance(x, (int, float)) else x
                            for x in r) for r in d.collect())

    assert canon(df) == canon(spark.sql(q))
    # FULL OUTER control: falls through
    eng.sql("select c_mktsegment, sum(o_totalprice) as rev "
            "from customer full join orders on o_custkey = c_custkey "
            "group by c_mktsegment")
    assert eng.last_plan_accelerated is None
    eng._default_refl_store().drop("t_rj")


def test_pure_fn_expression_dims_substitute(spark):
    """Pure scalar functions (upper/lower/trim/length/abs/floor/ceil/
    substring) over a stored dim column substitute as expression dims:
    the rollup re-groups the materialization cells by f(col), which
    merges exactly the base query's groups since f is a deterministic
    function of the stored key.  Covers group keys, COUNT/SUM(DISTINCT
    f(col)), and HAVING over an expression dim — including the case
    where the projection keeps the expr dim but HAVING filters on it.
    Controls: a nested expression argument and AVG(DISTINCT f(col))
    both fall through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE customer CREATE AGGREGATE REFLECTION pfd "
            "USING DIMENSIONS (c_mktsegment, c_name, c_acctbal) "
            "MEASURES (c_custkey (COUNT))")

    def canon(df):
        return sorted(
            tuple(round(float(x), 9) if isinstance(x, (int, float)) else x
                  for x in r)
            for r in df.collect())

    for q in (
        # string fn group key
        "select lower(c_mktsegment) as seg, count(c_custkey) as n "
        "from customer group by lower(c_mktsegment) order by seg",
        # substring group key + numeric fn distinct agg
        "select substring(c_name, 1, 12) as pref, "
        "count(distinct floor(c_acctbal)) as nf "
        "from customer group by substring(c_name, 1, 12) "
        "order by pref limit 5",
        # sum(distinct f(col)) + having over the expression dim
        "select upper(c_mktsegment) as seg, "
        "sum(distinct length(c_name)) as sl "
        "from customer group by upper(c_mktsegment) "
        "having upper(c_mktsegment) > 'A' order by seg",
        # having over an expr dim whose output the projection DROPS
        "select count(c_custkey) as n from customer "
        "group by abs(c_acctbal) having abs(c_acctbal) > 9000",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "pfd", q
        assert canon(df) == canon(spark.sql(q)), q

    # control: nested expression under the fn falls through
    eng.sql("select upper(substring(c_name, 1, 3)) as p, "
            "count(c_custkey) as n from customer "
            "group by upper(substring(c_name, 1, 3))")
    assert eng.last_plan_accelerated is None
    # control: avg(distinct f(col)) falls through (dtype unknowable
    # from the IR fn node; decimal re-division would drift)
    eng.sql("select c_mktsegment, avg(distinct abs(c_acctbal)) as a "
            "from customer group by c_mktsegment")
    assert eng.last_plan_accelerated is None
    eng._default_refl_store().drop("pfd")


def test_order_by_limit_substitutes_topn(spark):
    """ORDER BY ... LIMIT n (the canonical BI top-N) substitutes: the
    limit re-applies after the rollup's sort, so the accelerated plan
    gets the same TakeOrderedAndProject short-circuit.  Control: LIMIT
    without ORDER BY is row-arbitrary and falls through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION topn "
            "USING DIMENSIONS (o_orderpriority) "
            "MEASURES (o_totalprice (SUM))")
    q = ("select o_orderpriority, sum(o_totalprice) as rev from orders "
         "group by o_orderpriority order by rev desc limit 3")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "topn"

    def canon(frame):
        return [tuple(round(float(x), 3) if isinstance(x, float) else x
                      for x in r) for r in frame.collect()]

    assert canon(df) == canon(spark.sql(q))

    eng.sql("select o_orderpriority, sum(o_totalprice) as rev "
            "from orders group by o_orderpriority limit 3")
    assert eng.last_plan_accelerated is None
    eng._default_refl_store().drop("topn")


def test_expression_dim_filters_substitute(spark):
    """WHERE over a whitelisted dim expression (year(d) = 1995,
    substring(c, 1, n) = '...', IN over month(d)) substitutes: the
    predicate re-applies over the materialization's stored dim column,
    filtering exactly the base query's groups.  Controls: an expression
    over a NON-dim column refuses, and a PARTIAL reflection is never
    matched through an expression filter (conservative implication)."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION efd "
            "USING DIMENSIONS (l_returnflag, l_shipdate) "
            "MEASURES (l_orderkey (COUNT))")

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    for q in (
        "select l_returnflag, count(l_orderkey) as n from lineitem "
        "where year(l_shipdate) = 1995 group by l_returnflag",
        "select l_returnflag, count(l_orderkey) as n from lineitem "
        "where month(l_shipdate) in (1, 2, 3) group by l_returnflag",
        "select l_returnflag, count(l_orderkey) as n from lineitem "
        "where l_returnflag like 'A%' and l_shipdate is not null "
        "group by l_returnflag",
        "select l_returnflag, count(l_orderkey) as n from lineitem "
        "where l_returnflag = 'R' or (year(l_shipdate) = 1995 "
        "and not l_returnflag = 'A') group by l_returnflag",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "efd", q
        assert canon(df) == canon(spark.sql(q)), q

    # control: expression over a NON-dim column refuses
    eng.sql("select l_returnflag, count(l_orderkey) as n from lineitem "
            "where abs(l_extendedprice) > 0 group by l_returnflag")
    assert eng.last_plan_accelerated is None

    # control: a PARTIAL reflection never matches via an expr filter
    # (the implication check is conservative), even though
    # year(d) = 1997 implies d >= 1996-01-01 semantically
    from dremio_oss_spark.plans import AggQuery, Measure

    store = eng._default_refl_store()
    store.drop("efd")
    li = spark.table("lineitem")
    store.create_aggregation_reflection(
        "efd_part", li, table="lineitem",
        dims=["l_returnflag", "l_shipdate"],
        measures=[Measure("count", "l_orderkey")],
        filters=["l_shipdate >= '1996-01-01'"])
    q = AggQuery(table="lineitem", dims=("l_returnflag",),
                 measures=(Measure("count", "l_orderkey"),),
                 filters=("year(l_shipdate) = 1997",))
    assert store.find_match(q) is None, \
        "partial reflection matched through an expression filter"
    store.drop("efd_part")


def test_raw_reflection_expression_filter_substitutes(spark):
    """A raw-reflection scan query with an expression filter
    (year(d) = 1995) substitutes: raw materializations store rows
    verbatim, so the rendered predicate re-applies directly; the
    needed-columns gate counts the WRAPPED column, not the function
    name.  Control: the expression's base column missing from the
    reflection refuses."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE RAW REFLECTION rawefd "
            "USING DISPLAY (l_orderkey, l_shipdate, l_returnflag)")
    q = ("select l_orderkey, l_returnflag from lineitem "
         "where year(l_shipdate) = 1995 order by l_orderkey limit 20")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "rawefd"
    assert [tuple(r) for r in df.collect()] == \
           [tuple(r) for r in spark.sql(q).collect()]
    # control: expression over a column the reflection lacks
    eng.sql("select l_orderkey from lineitem "
            "where abs(l_discount) > 0")
    assert eng.last_plan_accelerated is None
    eng._default_refl_store().drop("rawefd")


def test_min_max_distinct_substitute_as_plain_measures(spark):
    """MIN/MAX(DISTINCT x) is MIN/MAX(x) — dedup cannot change an
    extremum — so both substitute through the plain measure partials."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION mmd "
            "USING DIMENSIONS (l_returnflag) "
            "MEASURES (l_quantity (MIN, MAX), l_orderkey (COUNT))")
    q = ("select l_returnflag, min(distinct l_quantity) as mn, "
         "max(distinct l_quantity) as mx from lineitem "
         "group by l_returnflag order by l_returnflag")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "mmd"
    assert [tuple(r) for r in df.collect()] == \
           [tuple(r) for r in spark.sql(q).collect()]
    eng._default_refl_store().drop("mmd")


def test_rollup_cube_grouping_sets_substitute(spark):
    """GROUP BY ROLLUP / CUBE / GROUPING SETS substitutes: each
    grouping set computes as its own rollup of the materialization and
    the frames union — subtotal and grand-total rows match the base
    plan exactly (including null-extended dim columns and HAVING over
    a measure).  Controls: a query projecting grouping()/grouping_id()
    falls through (the synthetic discriminator refuses), as does a
    rollup over a non-dim column."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION gsr "
            "USING DIMENSIONS (l_returnflag, l_linestatus) "
            "MEASURES (l_quantity (SUM), l_orderkey (COUNT))")

    def canon(df):
        rows = [tuple(round(float(x), 6) if isinstance(x, float) else x
                      for x in r)
                for r in df.collect()]
        return sorted(rows, key=lambda r: tuple(
            (v is None, str(v)) for v in r))

    for q in (
        "select l_returnflag, l_linestatus, sum(l_quantity) as s, "
        "count(l_orderkey) as n from lineitem "
        "group by rollup(l_returnflag, l_linestatus)",
        "select l_returnflag, l_linestatus, count(l_orderkey) as n "
        "from lineitem group by cube(l_returnflag, l_linestatus)",
        "select l_returnflag, l_linestatus, count(l_orderkey) as n "
        "from lineitem group by grouping sets "
        "((l_returnflag), (l_linestatus))",
        # HAVING over a measure across subtotal rows
        "select l_returnflag, l_linestatus, count(l_orderkey) as n "
        "from lineitem group by rollup(l_returnflag, l_linestatus) "
        "having count(l_orderkey) > 100",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "gsr", q
        assert canon(df) == canon(spark.sql(q)), q

    # grouping()/grouping_id() outputs now SUBSTITUTE: constants
    # within each expanded set, spliced as per-set literals
    qg = ("select l_returnflag, grouping(l_returnflag) as g, "
          "grouping_id() as gid, count(l_orderkey) as n from lineitem "
          "group by rollup(l_returnflag)")
    dfg = eng.sql(qg)
    assert eng.last_plan_accelerated == "gsr"
    assert canon(dfg) == canon(spark.sql(qg))
    # HAVING over grouping_id()/grouping(): filters to detail or
    # subtotal rows via the per-set literal carried by each frame
    for qh in (
        "select l_returnflag, l_linestatus, count(l_orderkey) as n "
        "from lineitem group by rollup(l_returnflag, l_linestatus) "
        "having grouping_id() = 0",
        "select l_returnflag, l_linestatus, "
        "grouping(l_linestatus) as gs, count(l_orderkey) as n "
        "from lineitem group by rollup(l_returnflag, l_linestatus) "
        "having grouping(l_linestatus) = 1",
    ):
        dfh = eng.sql(qh)
        assert eng.last_plan_accelerated == "gsr", qh
        assert canon(dfh) == canon(spark.sql(qh)), qh
    # control: rollup over a non-dim column falls through
    eng.sql("select l_shipdate, count(l_orderkey) as n from lineitem "
            "group by rollup(l_shipdate)")
    assert eng.last_plan_accelerated is None
    eng._default_refl_store().drop("gsr")


def test_expression_alias_through_projection_substitutes(spark):
    """A projection alias of a whitelisted dim expression participates
    everywhere a dim expression can: `select year(d) as y ... group by
    y` (through a subquery), filters on the alias, COUNT(DISTINCT
    alias), and ROLLUP over the alias all substitute — the alias
    resolves lazily to its base column.  Control: an alias of a
    non-whitelisted expression falls through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION eal "
            "USING DIMENSIONS (l_returnflag, l_shipdate) "
            "MEASURES (l_orderkey (COUNT))")

    def canon(df):
        rows = [tuple(r) for r in df.collect()]
        return sorted(rows, key=lambda r: tuple(
            (v is None, str(v)) for v in r))

    for q in (
        "select y, count(l_orderkey) as n from "
        "(select year(l_shipdate) as y, l_orderkey from lineitem) "
        "group by y",
        "select l_returnflag, count(distinct y) as nd from "
        "(select l_returnflag, year(l_shipdate) as y, l_orderkey "
        "from lineitem) group by l_returnflag",
        "select y, count(l_orderkey) as n from "
        "(select year(l_shipdate) as y, l_orderkey from lineitem) "
        "where y >= 1995 group by y",
        "select y, count(l_orderkey) as n from "
        "(select year(l_shipdate) as y, l_orderkey from lineitem) "
        "group by rollup(y)",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "eal", q
        assert canon(df) == canon(spark.sql(q)), q

    # control: non-whitelisted computed alias falls through
    eng.sql("select y, count(l_orderkey) as n from "
            "(select l_shipdate || 'x' as y, l_orderkey from lineitem) "
            "group by y")
    assert eng.last_plan_accelerated is None
    eng._default_refl_store().drop("eal")


def test_rollup_having_dim_and_inline_expression(spark):
    """Composition cases: HAVING on a dim applies across ROLLUP
    subtotal rows exactly as the base plan (null-dim subtotal rows drop
    under an equality having), and ROLLUP over an INLINE expression
    (group by rollup(year(d))) substitutes through the expression-alias
    machinery the analyzer's pre-Expand projection creates."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION rcomp "
            "USING DIMENSIONS (l_returnflag, l_linestatus, l_shipdate) "
            "MEASURES (l_orderkey (COUNT))")

    def canon(df):
        rows = [tuple(r) for r in df.collect()]
        return sorted(rows, key=lambda r: tuple(
            (v is None, str(v)) for v in r))

    for q in (
        "select l_returnflag, l_linestatus, count(l_orderkey) as n "
        "from lineitem group by rollup(l_returnflag, l_linestatus) "
        "having l_returnflag = 'R'",
        "select year(l_shipdate) as y, count(l_orderkey) as n "
        "from lineitem group by rollup(year(l_shipdate))",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "rcomp", q
        assert canon(df) == canon(spark.sql(q)), q
    eng._default_refl_store().drop("rcomp")


def test_aggregate_reflection_always_carries_count_star(spark):
    """Every aggregation reflection maintains a row-count partial, so
    plain `select dim, count(*)` rollups answer from ANY DDL-created
    reflection (the DDL grammar declares per-column measures only, so
    without the implicit partial no DDL reflection could ever serve
    count(*))."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION cstar "
            "USING DIMENSIONS (o_orderpriority) "
            "MEASURES (o_totalprice (SUM))")
    q = ("select o_orderpriority, count(*) as n from orders "
         "group by o_orderpriority order by o_orderpriority")
    df = eng.sql(q)
    assert eng.last_plan_accelerated == "cstar"
    assert [tuple(r) for r in df.collect()] == \
           [tuple(r) for r in spark.sql(q).collect()]
    eng._default_refl_store().drop("cstar")


def test_post_aggregation_arithmetic_substitutes(spark):
    """Post-aggregation arithmetic outputs substitute: ratios and
    scalings over aggregate results (sum(a)/sum(b), 100*count(x)/
    count(*), dim + measure mixes, avg and count-distinct leaves)
    re-apply over the rollup's re-aggregated partials, and a HAVING
    over such an expression renders against the same internal names.
    Controls: a non-grouped column inside the expression and a
    CASE WHEN both fall through."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION pae "
            "USING DIMENSIONS (l_returnflag, l_quantity) "
            "MEASURES (l_quantity (SUM, COUNT), l_extendedprice (SUM), "
            "l_orderkey (COUNT))")

    def canon(df):
        return sorted(
            tuple(round(float(x), 6) if isinstance(x, float) else x
                  for x in r)
            for r in df.collect())

    for q in (
        # ratio of sums + literal scaling
        "select l_returnflag, sum(l_extendedprice) / sum(l_quantity) "
        "as ratio, 100 * count(l_orderkey) as pct "
        "from lineitem group by l_returnflag",
        # avg leaf and count(*) leaf inside arithmetic
        "select l_returnflag, avg(l_quantity) * 2 as a2, "
        "count(l_orderkey) / count(*) as frac "
        "from lineitem group by l_returnflag",
        # distinct-agg leaf and dim leaf in the expression
        "select l_quantity, count(distinct l_returnflag) + l_quantity "
        "as mix from lineitem group by l_quantity",
        # HAVING over a post-agg ratio
        "select l_returnflag, count(l_orderkey) as n from lineitem "
        "group by l_returnflag "
        "having sum(l_extendedprice) / sum(l_quantity) > 1000",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "pae", q
        assert canon(df) == canon(spark.sql(q)), q

    # control: non-grouped column inside the arithmetic
    eng.sql("select l_returnflag, sum(l_extendedprice) + l_quantity "
            "as x from lineitem group by l_returnflag, l_quantity")
    # (grouped here, so it accelerates — now the true control:)
    eng.sql("select l_returnflag, max(l_quantity) + l_orderkey as x "
            "from lineitem group by l_returnflag, l_orderkey")
    assert eng.last_plan_accelerated is None  # l_orderkey not a dim
    # CASE WHEN inside post-agg arithmetic now SPLICES (the guarded
    # ratio shape) — values must match the base plan
    qc = ("select l_returnflag, sum(l_extendedprice) * "
          "(case when count(*) > 0 then 1 else 0 end) as x "
          "from lineitem group by l_returnflag")
    dfc = eng.sql(qc)
    assert eng.last_plan_accelerated == "pae"
    assert canon(dfc) == canon(spark.sql(qc))
    eng._default_refl_store().drop("pae")


def test_order_by_unprojected_aggregate_substitutes(spark):
    """ORDER BY over an aggregate the projection drops (the 'top N by
    revenue, names only' shape) substitutes: the hidden measure rolls
    up, rides the final select as a temp column, sorts, and drops —
    ordering identical to the base plan, including with LIMIT."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION obh "
            "USING DIMENSIONS (o_orderpriority) "
            "MEASURES (o_totalprice (SUM, COUNT))")
    for q in (
        "select o_orderpriority from orders group by o_orderpriority "
        "order by sum(o_totalprice) desc limit 3",
        "select o_orderpriority from orders group by o_orderpriority "
        "order by avg(o_totalprice)",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "obh", q
        assert [r[0] for r in df.collect()] == \
               [r[0] for r in spark.sql(q).collect()], q
        assert df.columns == ["o_orderpriority"], q
    eng._default_refl_store().drop("obh")


def test_fn_named_column_not_treated_as_function():
    """A column literally named `length` (or year/abs/...) in a filter is
    a COLUMN reference, not a whitelisted dim-expression function: a
    reflection that doesn't carry it must refuse covers() (silently
    matching would fail analysis at substitution time and drop
    acceleration), and one that carries it as a dim matches.  Function
    APPLICATIONS (`length(name) = 5`) keep matching through the wrapped
    dim."""
    from dremio_oss_spark.plans import Measure
    from dremio_oss_spark.plans.reflections import AggQuery, Reflection

    no_len = Reflection("r1", "t", ("g",), (Measure("sum", "v"),), "/x")
    with_len = Reflection("r2", "t", ("g", "length"),
                          (Measure("sum", "v"),), "/x")
    q_bare = AggQuery("t", ("g",), (Measure("sum", "v"),),
                      filters=("length = 5",))
    assert not no_len.covers(q_bare)
    assert with_len.covers(q_bare)
    # applied form: the wrapped column must be a dim; the fn name itself
    # never needs to be one
    q_fn = AggQuery("t", ("g",), (Measure("sum", "v"),),
                    filters=("length(g) = 5",))
    assert no_len.covers(q_fn)
    # year as a plain column name, same shape
    q_year = AggQuery("t", ("g",), (Measure("sum", "v"),),
                      filters=("year = 1995",))
    assert not no_len.covers(q_year)


def test_needed_cols_keeps_fn_named_columns():
    """ExtractedScan.needed_cols: `year = 1995` references a column named
    year (the raw materialization must carry it); `year(d) = 1995` needs
    d, not year."""
    from dremio_oss_spark.plans.substitution import ExtractedScan

    bare = ExtractedScan("t", ("year = 1995",), [("a", "a")], [], None)
    assert "year" in bare.needed_cols and "a" in bare.needed_cols
    applied = ExtractedScan("t", ("year(d) = 1995",), [("a", "a")],
                            [], None)
    assert "d" in applied.needed_cols
    assert "year" not in applied.needed_cols


def test_ndv_measure_sketch_lifecycle(spark, tmp_path):
    """APPROXIMATE COUNT DISTINCT measures: the materialization stores a
    mergeable HLL sketch binary per cell; rollups union sketches and
    estimate at the query grain; the watermark incremental refresh
    merges new-row sketches into existing cells; the signed CDF fold
    refuses (a sketch has no subtraction); estimates stay within the
    sketch's error bound at high cardinality."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType

    from dremio_oss_spark.plans import AggQuery, Measure, ReflectionStore

    rows = spark.range(20000).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("g"),
        # u: ~5000 distinct per group (beyond the sketch-exact range),
        # v: 7 distinct per group (inside it)
        (F.col("id")).alias("u"), (F.col("id") % 7).alias("v"))

    store = ReflectionStore(spark, str(tmp_path / "r"))
    refl = store.create_aggregation_reflection(
        "nd", rows.where("k < 12000"), table="t", dims=["g"],
        measures=[Measure("ndv", "u"), Measure("ndv", "v"),
                  Measure("count", "*")],
        watermark_col="k")
    mat = store.scan_materialization(refl, ())
    assert isinstance(mat.schema[Measure("ndv", "u").name].dataType,
                      BinaryType)

    # watermark incremental merge: sketches of the appended rows union
    # into the existing cells
    assert store.incremental_refresh("nd", rows) > 0
    q = AggQuery(table="t", dims=("g",),
                 measures=(Measure("ndv", "u"), Measure("ndv", "v"),
                           Measure("count", "*")))
    df, sub = store.execute(q, rows)
    assert sub
    got = {r["g"]: (r[Measure("ndv", "u").name],
                    r[Measure("ndv", "v").name]) for r in df.collect()}
    for g in range(4):
        assert got[g][1] == 7  # sketch-exact range: exact
        assert abs(got[g][0] - 5000) <= 5000 * 0.03  # within rsd bound

    # rollup to a COARSER grain (no dims): one estimate over the union
    # of every cell's sketch — never a sum of per-cell estimates
    q_all = AggQuery(table="t", dims=(),
                     measures=(Measure("ndv", "u"),))
    df_all, sub_all = store.execute(q_all, rows)
    assert sub_all
    est = df_all.collect()[0][Measure("ndv", "u").name]
    assert abs(est - 20000) <= 20000 * 0.03

    # the signed lake fold must refuse ndv measures
    with _pytest.raises(ValueError, match="ndv"):
        store.snapshot_incremental_refresh(refl.name, str(tmp_path))


def test_external_reflection_validation_and_restore(spark):
    """External reflections: creation validates the target's row type
    against the dataset (same names + dtypes, order-insensitive —
    the reference's materialization-descriptor check); the session
    binding is restored after every accelerated query AND after a
    failed swap; DROP REFLECTION removes it."""
    import pytest as _pytest

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)

    # row-type mismatch refuses at creation
    spark.sql("select n_nationkey from nation") \
        .createOrReplaceTempView("bad_tgt")
    with _pytest.raises(ValueError, match="row type"):
        eng.sql("ALTER TABLE nation CREATE EXTERNAL REFLECTION xbad "
                "USING bad_tgt")

    # column ORDER may differ (order-insensitive row type)
    cols = spark.table("nation").columns
    spark.sql(f"select {', '.join(reversed(cols))} from nation") \
        .createOrReplaceTempView("good_tgt")
    eng.sql("ALTER TABLE nation CREATE EXTERNAL REFLECTION xok "
            "USING good_tgt")
    n = eng.sql("select count(*) as n from nation").collect()[0][0]
    assert eng.last_plan_accelerated == "xok"
    assert n == spark.table("good_tgt").count()
    # binding restored: raw spark still sees the original nation
    assert spark.table("nation").columns == cols

    eng.sql("ALTER TABLE nation DROP REFLECTION xok")
    eng.sql("select count(*) from nation")
    assert eng.last_plan_accelerated is None
    assert eng.sql("select * from sys.reflections")
    assert (eng.sql("select * from sys.reflections")
            .where("reflection_name = 'xok'").count() == 0)


def test_conditional_agg_substitution_forms(spark):
    """Conditional aggregation (sum/count/min/max over CASE WHEN with
    dim-only predicates) substitutes exactly: column, literal, scaled
    (positive ℓ·v) and NULL branch values; missing-else NULL semantics
    (a group with no matching rows sums to NULL, counts to 0); HAVING
    over a dropped conditional aggregate; and the soundness refusals
    (non-dim predicate, missing partial, negative scale under MIN,
    conditional agg inside post-agg arithmetic)."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION t_cag "
            "USING DIMENSIONS (l_returnflag, l_linestatus, l_shipdate) "
            "MEASURES (l_quantity (SUM, COUNT, MIN, MAX))")
    accelerated = [
        # column / literal / scaled / implicit-NULL else branches
        "select l_returnflag, "
        "sum(case when l_linestatus = 'O' then l_quantity else 0 end) a, "
        "sum(case when l_linestatus = 'O' then 2 else 0 end) b, "
        "sum(case when l_linestatus = 'O' then 2 * l_quantity end) c, "
        "count(case when l_linestatus = 'O' then l_quantity end) d, "
        "min(case when l_linestatus = 'O' then l_quantity end) e, "
        "max(case when l_linestatus = 'O' then 3 * l_quantity end) f "
        "from lineitem group by l_returnflag order by l_returnflag",
        # no-match group: sum -> NULL, count -> 0 (never NULL)
        "select l_returnflag, "
        "sum(case when l_linestatus = 'Z' then l_quantity end) s, "
        "count(case when l_linestatus = 'Z' then l_quantity end) c "
        "from lineitem group by l_returnflag order by l_returnflag",
        # multi-branch first-match-wins + expression-dim predicate
        "select l_returnflag, "
        "sum(case when year(l_shipdate) = 1995 then l_quantity "
        "when l_linestatus = 'O' then 2 * l_quantity else 0 end) s "
        "from lineitem group by l_returnflag order by l_returnflag",
        # HAVING over a conditional aggregate the projection drops
        "select l_returnflag from lineitem group by l_returnflag "
        "having sum(case when l_linestatus = 'O' then l_quantity "
        "else 0 end) > 0 order by l_returnflag",
        # POST-AGG ARITHMETIC over conditional aggregates (conversion
        # rates): ratio to count(*), ratio of two conditional sums,
        # and HAVING over the arithmetic form
        "select l_returnflag, 100 * count(case when l_linestatus = 'O' "
        "then 1 end) / count(*) as pct from lineitem "
        "group by l_returnflag order by l_returnflag",
        "select l_returnflag, "
        "sum(case when l_linestatus = 'O' then l_quantity else 0 end) /"
        " sum(case when l_linestatus = 'F' then l_quantity else 0 end) "
        "as r from lineitem group by l_returnflag order by l_returnflag",
        "select l_returnflag from lineitem group by l_returnflag "
        "having sum(case when l_linestatus = 'O' then l_quantity "
        "else 0 end) / count(*) > 25 order by l_returnflag",
    ]
    for q in accelerated:
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "t_cag", q
        assert df.collect() == spark.sql(q).collect(), q
        assert df.dtypes == spark.sql(q).dtypes, q
    refusals = [
        # predicate over a non-dim column
        "select l_returnflag, sum(case when l_partkey = 1 then "
        "l_quantity else 0 end) x from lineitem group by l_returnflag",
        # branch value without a declared partial
        "select l_returnflag, sum(case when l_linestatus = 'O' then "
        "l_discount else 0 end) x from lineitem group by l_returnflag",
        # negative scale flips MIN — refuse
        "select l_returnflag, min(case when l_linestatus = 'O' then "
        "-2 * l_quantity end) x from lineitem group by l_returnflag",
        # a post-agg condagg whose PREDICATE column isn't stored still
        # refuses soundly
        "select l_returnflag, sum(case when l_partkey = 1 then "
        "l_quantity else 0 end) / count(*) x from lineitem "
        "group by l_returnflag",
    ]
    for q in refusals:
        df = eng.sql(q)
        assert eng.last_plan_accelerated is None, q
        assert df.collect() == spark.sql(q).collect(), q
    eng._default_refl_store().drop("t_cag")


def test_avg_over_expression_dim_substitutes(spark):
    """AVG over a whitelisted provably-integer expression dim
    (avg(year(d)), avg(length(c))) substitutes by count-weighting the
    dim grain: sum(f(cell)·count)/sum(count) over non-null-f cells —
    exact for integer f.  NULL dims stay excluded from the denominator
    (base AVG counts only non-null inputs).  Dtype-blind fns
    (abs/floor/ceil) and post-agg arithmetic over the form refuse."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION t_ae "
            "USING DIMENSIONS (o_orderpriority, o_orderdate) "
            "MEASURES (o_totalprice (SUM))")
    for q in (
        "select o_orderpriority, avg(year(o_orderdate)) as ay "
        "from orders group by o_orderpriority order by o_orderpriority",
        "select o_orderpriority, avg(month(o_orderdate)) as am, "
        "count(*) as n from orders group by o_orderpriority "
        "order by o_orderpriority",
    ):
        df = eng.sql(q)
        assert eng.last_plan_accelerated == "t_ae", q
        assert df.collect() == spark.sql(q).collect(), q
        assert df.dtypes == spark.sql(q).dtypes, q
    # NULL dims excluded from the denominator: build a table with nulls
    # (parquet-backed — the plan-tree matcher substitutes relation
    # scans, not in-memory Range sources)
    import tempfile

    rows = spark.range(100).select(
        (F.col("id") % 3).alias("g"),
        F.when(F.col("id") % 5 != 0,
               F.expr("date_add(date'2020-01-01', cast(id as int))"))
        .alias("d"))
    tdir = tempfile.mkdtemp(prefix="t_ae_nulls")
    rows.write.mode("overwrite").parquet(tdir)
    spark.read.parquet(tdir).createOrReplaceTempView("t_ae_nulls")
    eng2 = Engine(spark)
    eng2.sql("ALTER TABLE t_ae_nulls CREATE AGGREGATE REFLECTION t_aen "
             "USING DIMENSIONS (g, d) MEASURES (g (COUNT))")
    q = ("select g, avg(month(d)) as am from t_ae_nulls group by g "
         "order by g")
    df = eng2.sql(q)
    assert eng2.last_plan_accelerated == "t_aen"
    assert df.collect() == spark.sql(q).collect()
    # dtype-blind fn refuses
    eng.sql("select o_orderpriority, avg(abs(o_totalprice)) as x "
            "from orders group by o_orderpriority")
    assert eng.last_plan_accelerated is None
    # post-agg arithmetic over the form substitutes (the __ae_ rollup
    # column splices as a post-agg leaf), values equal the base plan
    q_pa = ("select o_orderpriority, avg(year(o_orderdate)) + 1 as x "
            "from orders group by o_orderpriority "
            "order by o_orderpriority")
    df_pa = eng.sql(q_pa)
    assert eng.last_plan_accelerated == "t_ae"
    assert df_pa.collect() == spark.sql(q_pa).collect()
    # ... and HAVING over the form substitutes too
    q_h = ("select o_orderpriority, count(*) n from orders "
           "group by o_orderpriority "
           "having avg(year(o_orderdate)) > 1900 "
           "order by o_orderpriority")
    df_h = eng.sql(q_h)
    assert eng.last_plan_accelerated == "t_ae"
    assert df_h.collect() == spark.sql(q_h).collect()
    eng._default_refl_store().drop("t_ae")
    eng2._default_refl_store().drop("t_aen")


def test_external_reflection_respects_policies(spark):
    """A row-access policy on the dataset excludes its external
    reflection from acceleration (the target holds raw rows — serving
    it would bypass the policy), and the policied query still returns
    the filtered rows."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    spark.table("nation").createOrReplaceTempView("nat_ext_tgt")
    eng.sql("ALTER TABLE nation CREATE EXTERNAL REFLECTION xpol "
            "USING nat_ext_tgt")
    n_all = eng.sql("select count(*) as n from nation").collect()[0][0]
    assert eng.last_plan_accelerated == "xpol"
    eng.sql("create function only_zero(r bigint) returns boolean "
            "return r = 0")
    eng.sql("alter table nation add row access policy "
            "only_zero(n_regionkey)")
    try:
        n_pol = eng.sql("select count(*) as n from nation") \
            .collect()[0][0]
        assert eng.last_plan_accelerated is None, \
            "external reflection bypassed a row policy"
        assert 0 < n_pol < n_all
    finally:
        eng.sql("alter table nation drop row access policy only_zero")
        eng._default_refl_store().drop("xpol")


def test_null_dim_substitution_battery(spark, tmp_path):
    """Adversarial soundness battery on a NULL-BEARING base table (the
    TPC-H fixtures have no NULLs): every accelerated answer must equal
    the unaccelerated plan across the round-7/8 substitution surface —
    OR/NOT/LIKE/BETWEEN predicates, conditional aggregates, expression
    dims, grouping sets, HAVING, and the dim-grain measures (min/max/
    count/ndv over a stored dim, no declared partial needed)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine

    rows, i = [], 0
    for a in ["x", "y", None]:
        for b in ["p", "q", None]:
            for v in [1, 2, None, 5]:
                for d in ["2021-03-05", "2022-11-30", None]:
                    rows.append((i, a, b, v, d))
                    i += 1
    df = (spark.createDataFrame(
        rows, "id long, a string, b string, v int, d string")
        .withColumn("d", F.col("d").cast("date")))
    p = str(tmp_path / "nulltab")
    df.write.mode("overwrite").parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("nulltab_t")

    eng = Engine(spark)
    eng.sql("ALTER TABLE nulltab_t CREATE AGGREGATE REFLECTION r_nullb "
            "USING DIMENSIONS (a, b, d) "
            "MEASURES (v (SUM, COUNT, MIN, MAX))")
    try:
        accelerated_cases = [
            "select a, count(*) n, sum(v) s from nulltab_t "
            "where a = 'x' or not (b = 'p') group by a",
            "select a, sum(v) s from nulltab_t where b not like 'q%' "
            "group by a",
            "select a, count(v) c from nulltab_t where b is null "
            "group by a",
            "select a, sum(case when b = 'p' then v when b = 'q' "
            "then v else 0 end) s, count(case when b = 'p' then v end) "
            "c from nulltab_t group by a",
            "select a, sum(case when b is null then v else 0 end) s "
            "from nulltab_t group by a",
            "select a, avg(year(d)) ay from nulltab_t group by a",
            "select a, b, sum(v) s, count(*) n from nulltab_t "
            "group by rollup(a, b)",
            "select b, count(v) c from nulltab_t group by b "
            "having count(*) > 10",
            # dim-grain measures: no declared partial for b/d
            "select a, min(b) mn, max(b) mx from nulltab_t group by a",
            "select a, min(d) mn, max(d) mx from nulltab_t group by a",
            "select a, count(b) cb, count(d) cd, count(*) n "
            "from nulltab_t group by a",
            "select b, count(d) cd from nulltab_t where a = 'nope' "
            "group by b",
            # BETWEEN (RuntimeReplaceable node), incl. NOT and inside
            # conditional-agg predicates and over expression dims
            "select a, sum(v) s from nulltab_t where d between "
            "date '2021-01-01' and date '2021-12-31' group by a",
            "select a, sum(v) s from nulltab_t where d not between "
            "date '2021-01-01' and date '2021-12-31' group by a",
            "select a, sum(v) s from nulltab_t where year(d) between "
            "2021 and 2022 group by a",
            "select a, sum(case when d between date '2021-01-01' and "
            "date '2021-12-31' then v else 0 end) s from nulltab_t "
            "group by a",
        ]
        fallthrough_cases = [
            # sound refusals must still answer correctly from the base
            "select a, sum(v) s from nulltab_t where a <=> 'x' "
            "group by a",
            "select a, avg(distinct v) ad from nulltab_t group by a",
            "select case when a = 'x' then 'X' else 'other' end k, "
            "sum(v) s from nulltab_t group by 1",
        ]

        def norm(got):
            return sorted(
                [tuple(round(x, 9) if isinstance(x, float) else x
                       for x in r) for r in got],
                key=lambda t: tuple((z is None, str(z)) for z in t))

        for q in accelerated_cases:
            got = eng.sql(q)
            assert eng.last_plan_accelerated == "r_nullb", \
                f"expected acceleration: {q}"
            assert norm(got.collect()) == norm(spark.sql(q).collect()), q
        for q in fallthrough_cases:
            got = eng.sql(q)
            assert eng.last_plan_accelerated is None, \
                f"expected fall-through: {q}"
            assert norm(got.collect()) == norm(spark.sql(q).collect()), q
    finally:
        eng._default_refl_store().drop("r_nullb")


def test_reflection_routing_to_queue_and_engine(spark):
    """ALTER TABLE ... ROUTE REFLECTIONS TO QUEUE/ENGINE
    (SqlAlterDatasetReflectionRouting, alter.ftl:625): refresh jobs for
    a routed dataset run pinned to the queue's scheduler pool (with its
    admission slot) or the engine's pool; DEFAULT clears; unknown
    targets refuse; space-level routing covers its datasets by prefix;
    sys.reflection_routing surfaces the state."""
    import pytest as _pytest

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION t_route "
            "USING DIMENSIONS (o_orderpriority) "
            "MEASURES (o_totalprice (SUM))")
    try:
        eng.sql("alter table orders route all reflections "
                "to queue reflection_large")
        rows = eng.sql("select * from sys.reflection_routing").collect()
        assert [(r["dataset"], r["route_type"], r["target"],
                 r["scheduler_pool"]) for r in rows] == \
            [("orders", "queue", "REFLECTION_LARGE", "wlm_refl_large")]
        store = eng._default_refl_store()
        refl = store._reflections["t_route"]
        sc = spark.sparkContext
        before = sc.getLocalProperty("spark.scheduler.pool")
        eng.sql("refresh reflection t_route")
        assert eng.last_refresh_route == \
            ("t_route", "REFLECTION_LARGE", "wlm_refl_large")
        # the pin is scoped: restored after the refresh
        assert sc.getLocalProperty("spark.scheduler.pool") == before
        assert refl.invalid is False

        # engine routing (engine must exist in the registry)
        eng.alter_engine("etl", min_replicas=1, max_replicas=4)
        eng.sql("alter table orders route reflections to engine etl")
        eng.sql("refresh reflection t_route")
        assert eng.last_refresh_route == ("t_route", "etl", "engine_etl")

        # DEFAULT clears
        eng.sql("alter table orders route reflections to default queue")
        assert eng.sql("select * from sys.reflection_routing").count() == 0

        # space-level prefix routing reaches its datasets
        eng.sql("alter space sales route all reflections "
                "to queue reflection_small")
        assert eng._route_for("sales.orders_v") == \
            ("prefix", "queue", "REFLECTION_SMALL")
        assert eng._route_for("sales__orders_v") == \
            ("prefix", "queue", "REFLECTION_SMALL")
        assert eng._route_for("other.t") is None

        # unknown targets refuse
        with _pytest.raises(ValueError, match="unknown queue"):
            eng.sql("alter table orders route reflections to queue nope")
        with _pytest.raises(ValueError, match="unknown engine"):
            eng.sql("alter table orders route reflections to engine nope")
    finally:
        eng._default_refl_store().drop("t_route")


def test_plan_cache_hits_and_invalidation(spark, tmp_path):
    """Plan cache (reference PlanCache.java / supportPlanCache): a
    repeated SELECT is served from cache (probe + rewrites skipped,
    acceleration marker preserved), ANY non-SELECT statement
    invalidates wholesale, quoted lake paths never enter (versioned-
    table exclusion, PlanCacheUtils.java:43), the principal keys the
    entry, and a cache hit re-EXECUTES the plan (fresh rows)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.delta import write_delta

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION t_pc "
            "USING DIMENSIONS (o_orderpriority) "
            "MEASURES (o_totalprice (SUM))")
    try:
        q = ("select o_orderpriority, count(*) as n from orders "
             "group by o_orderpriority order by o_orderpriority")
        d1 = eng.sql(q)
        assert eng.last_plan_accelerated == "t_pc"
        h0 = eng.plan_cache_hits
        d2 = eng.sql(q)
        assert eng.plan_cache_hits == h0 + 1
        assert eng.last_plan_accelerated == "t_pc"  # marker preserved
        assert d2 is d1  # same analyzed plan object
        assert d2.collect() == d1.collect()

        # a different principal never reads another's entry
        eng.session_user = "someone_else"
        eng.sql(q)
        assert eng.plan_cache_hits == h0 + 1  # miss, not a hit
        eng.session_user = None

        # ANY non-SELECT invalidates wholesale
        eng.sql("alter session set \"planner.x\" = '1'")
        eng.sql(q)
        assert eng.plan_cache_hits == h0 + 1  # repopulated, not served

        # lake-path SELECTs are excluded AND invalidation keeps them
        # correct: the same text re-plans against the NEW snapshot
        t = str(tmp_path / "d")
        write_delta(spark, spark.range(5).select(
            F.col("id").alias("k")), t)
        ql = f"select count(*) as n from '{t}'"
        assert eng.sql(ql).collect()[0][0] == 5
        eng.sql(f"insert into '{t}' select id as k from range(3)")
        assert eng.sql(ql).collect()[0][0] == 8  # fresh plan, new rows

        # a cache HIT still re-executes: new base rows appear through
        # the unchanged plan (plan cache, not result cache)
        spark.sql("select 1").collect()  # no-op spacer
        qcnt = ("select count(*) as n from lineitem")
        n1 = eng.sql(qcnt).collect()[0][0]
        n2 = eng.sql(qcnt).collect()[0][0]
        assert n1 == n2  # same plan, re-executed fine

        # whitespace inside a literal is part of the statement: the
        # 'a  b' query is its own entry, not the 'a b' one's answer
        spark.createDataFrame([("a b",), ("a  b",), ("a  b",)],
                              "s string").createOrReplaceTempView("pc_ws")
        qs = "select count(*) as n from pc_ws where s = '{}'"
        assert eng.sql(qs.format("a b")).collect()[0][0] == 1
        assert eng.sql(qs.format("a  b")).collect()[0][0] == 2

        # comments are not: a leading block comment or a trailing line
        # comment is served, accelerated, from the plain text's entry
        # and leaves the cache as it was
        d3 = eng.sql(q)
        h1, n_ent = eng.plan_cache_hits, len(eng._plan_cache)
        assert eng.sql("/* panel 7 */ " + q) is d3
        assert eng.last_plan_accelerated == "t_pc"
        assert eng.sql(q + " -- x") is d3
        assert eng.plan_cache_hits == h1 + 2
        assert len(eng._plan_cache) == n_ent
    finally:
        eng._default_refl_store().drop("t_pc")


def test_raw_swap_any_query_shape(spark):
    """Any-shape raw substitution (the reference's scan-level
    materialization match): window functions, DISTINCT, CTE rollups,
    and joins over a raw-reflected table answer from the
    materialization; `select *` and queries touching uncovered columns
    fall through; the session binding is restored either way."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE RAW REFLECTION raw_any "
            "USING DISPLAY (o_orderkey, o_custkey, o_orderpriority, "
            "o_totalprice)")
    try:
        def norm(rows):
            return sorted(map(tuple, rows),
                          key=lambda t: tuple((x is None, str(x))
                                              for x in t))

        accelerated = [
            "select o_custkey, o_orderkey, row_number() over "
            "(partition by o_custkey order by o_orderkey) rn "
            "from orders where o_orderpriority = '1-URGENT'",
            "select distinct o_orderpriority from orders",
            "with u as (select o_custkey, o_totalprice from orders "
            "where o_orderpriority = '1-URGENT') "
            "select o_custkey, count(*) n from u group by o_custkey",
            "select o.o_orderkey, c.c_name from orders o join customer "
            "c on o.o_custkey = c.c_custkey "
            "where o.o_orderpriority = '2-HIGH'",
        ]
        for q in accelerated:
            got = eng.sql(q)
            assert eng.last_plan_accelerated == "raw_any", q
            assert norm(got.collect()) == norm(spark.sql(q).collect()), q
        # the swap honours DISABLE RAW ACCELERATION like the raw matcher
        eng.sql("ALTER TABLE orders DISABLE RAW ACCELERATION")
        eng.sql(accelerated[0])
        assert eng.last_plan_accelerated is None
        eng.sql("ALTER TABLE orders ENABLE RAW ACCELERATION")
        fallthrough = [
            "select * from orders",                # narrower raw
            "select o_orderdate, o_orderkey from orders",  # uncovered
        ]
        for q in fallthrough:
            got = eng.sql(q)
            assert eng.last_plan_accelerated is None, q
            assert norm(got.collect()) == norm(spark.sql(q).collect()), q
        # binding restored after every probe
        assert len(spark.table("orders").columns) == 6
    finally:
        eng._default_refl_store().drop("raw_any")


def test_condagg_and_dimgrain_over_nullable_star(spark, tmp_path):
    """Conditional-agg CASE predicates and dim-grain measures over a
    NULL-EXTENDED (left-star) dim column: unmatched fact rows form
    dim=NULL cells, the predicate evaluates per cell exactly as the
    base plan evaluates it per row (incl. `is null` branches), and
    count(dim)/min(dim) skip the null cells like base count/min."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine

    fact = spark.createDataFrame(
        [(i, f"x{i % 3}", i % 5 if i % 4 else 99, float(i))
         for i in range(60)],
        "fk long, d1 string, dimk long, m1 double")
    dim = spark.createDataFrame([(k, f"g{k % 2}") for k in range(5)],
                                "dk long, grp string")
    fact.write.parquet(str(tmp_path / "f"))
    dim.write.parquet(str(tmp_path / "dm"))
    spark.read.parquet(str(tmp_path / "f")) \
        .createOrReplaceTempView("cns_fact")
    spark.read.parquet(str(tmp_path / "dm")) \
        .createOrReplaceTempView("cns_dim")
    eng = Engine(spark)
    eng.sql("ALTER TABLE cns_fact CREATE AGGREGATE REFLECTION cns_r "
            "USING DIMENSIONS (d1, dimk, grp) "
            "MEASURES (m1 (SUM, COUNT)) "
            "JOINS (LEFT cns_dim ON dimk = dk)")
    try:
        def norm(rows):
            return sorted(map(tuple, rows),
                          key=lambda t: tuple((x is None, str(x))
                                              for x in t))

        for q in [
            "select d1, sum(case when grp = 'g0' then m1 else 0 end) s "
            "from cns_fact left join cns_dim on dimk = dk group by d1",
            "select d1, sum(case when grp is null then m1 else 0 end) "
            "s, count(*) n from cns_fact left join cns_dim "
            "on dimk = dk group by d1",
            "select d1, min(grp) mn, count(grp) cg from cns_fact "
            "left join cns_dim on dimk = dk group by d1",
        ]:
            got = eng.sql(q)
            assert eng.last_plan_accelerated == "cns_r", q
            assert norm(got.collect()) == norm(spark.sql(q).collect()), q
    finally:
        eng._default_refl_store().drop("cns_r")


def test_raw_incremental_refresh_appends_only(spark, tmp_path):
    """RAW reflections with REFRESH BY APPEND(col): rows past the
    high-watermark append as NEW files into the current generation —
    existing files never rewrite (asserted by file set), refresh cost
    is O(new rows), results stay exact, and the incremental path equals
    a full rebuild."""
    import glob
    import os

    from pyspark.sql import functions as F

    from dremio_oss_spark.engine import Engine

    base = spark.range(100).select(F.col("id").alias("k"),
                                   (F.col("id") % 7).alias("v"))
    p = str(tmp_path / "t")
    base.write.parquet(p)
    spark.read.parquet(p).createOrReplaceTempView("rinc_t")
    eng = Engine(spark)
    eng.sql("ALTER TABLE rinc_t CREATE RAW REFLECTION r_inc "
            "USING DISPLAY (k, v) LOCALSORT BY (k) "
            "REFRESH BY APPEND (k)")
    store = eng._default_refl_store()
    refl = store._raw["r_inc"]
    gen_dir = store._data_dir(refl)
    files_before = set(glob.glob(os.path.join(gen_dir, "*.parquet")))
    # grow the base (append-only), refresh incrementally
    grown = base.unionByName(
        spark.range(100, 130).select(F.col("id").alias("k"),
                                     (F.col("id") % 7).alias("v")))
    grown.write.mode("overwrite").parquet(str(tmp_path / "t2"))
    spark.read.parquet(str(tmp_path / "t2")) \
        .createOrReplaceTempView("rinc_t")
    try:
        n = store.incremental_refresh_raw(
            "r_inc", spark.table("rinc_t"))
        assert n == 30
        files_after = set(glob.glob(os.path.join(gen_dir, "*.parquet")))
        assert files_before <= files_after, "existing files rewritten"
        assert len(files_after) > len(files_before)
        # the materialization now answers with the full row set
        got = eng.sql("select count(*) n, sum(k) s from rinc_t")
        assert eng.last_plan_accelerated == "r_inc"
        assert got.collect()[0][:] == (130, 130 * 129 // 2)
        # idempotent: nothing past the watermark -> no new files
        assert store.incremental_refresh_raw(
            "r_inc", spark.table("rinc_t")) == 0
        assert set(glob.glob(os.path.join(gen_dir, "*.parquet"))) \
            == files_after
        # a raw without a watermark refuses the incremental path
        eng.sql("ALTER TABLE rinc_t CREATE RAW REFLECTION r_plain "
                "USING DISPLAY (k)")
        import pytest as _pytest

        with _pytest.raises(ValueError, match="watermark"):
            store.incremental_refresh_raw("r_plain",
                                          spark.table("rinc_t"))
    finally:
        store.drop("r_inc")
        store.drop("r_plain")


def test_union_branch_substitution(spark):
    """UNION ALL of aggregate fragments substitutes all-or-nothing:
    each branch answers from its own covering reflection (possibly
    DIFFERENT reflections over different tables — multi-
    materialization in one query), a single unmatchable branch falls
    the whole union through, and plain UNION (distinct) refuses."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION ub_r1 "
            "USING DIMENSIONS (o_orderpriority, o_orderstatus) "
            "MEASURES (o_totalprice (SUM, COUNT))")
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION ub_r2 "
            "USING DIMENSIONS (l_returnflag) "
            "MEASURES (l_quantity (SUM))")
    try:
        def norm(rows):
            return sorted(map(tuple, rows),
                          key=lambda t: tuple((x is None, str(x))
                                              for x in t))

        q = ("select o_orderpriority as k, count(*) as n from orders "
             "group by o_orderpriority union all "
             "select o_orderstatus as k, count(*) as n from orders "
             "group by o_orderstatus")
        got = eng.sql(q)
        assert eng.last_plan_accelerated == "ub_r1"
        assert norm(got.collect()) == norm(spark.sql(q).collect())

        q2 = ("select o_orderpriority as k, count(*) as n from orders "
              "group by o_orderpriority union all "
              "select l_returnflag as k, count(*) as n from lineitem "
              "group by l_returnflag")
        got = eng.sql(q2)
        assert eng.last_plan_accelerated == "ub_r1,ub_r2"
        assert norm(got.collect()) == norm(spark.sql(q2).collect())

        # an unmatchable branch (computed group key) falls the whole
        # union through — never a mixed materialized/live result
        q3 = ("select o_orderpriority as k, count(*) as n from orders "
              "group by o_orderpriority union all "
              "select cast(o_orderdate as string) as k, count(*) as n "
              "from orders group by o_orderdate")
        got = eng.sql(q3)
        assert eng.last_plan_accelerated is None
        assert norm(got.collect()) == norm(spark.sql(q3).collect())

        # ORDER BY + LIMIT over the union (the leaderboard shape):
        # the limit pair peels, sort+limit re-apply post-union
        q_ol = ("select o_orderpriority as k, count(*) as n from "
                "orders group by o_orderpriority union all "
                "select o_orderstatus as k, count(*) as n from orders "
                "group by o_orderstatus order by n desc, k limit 4")
        got = eng.sql(q_ol)
        assert eng.last_plan_accelerated == "ub_r1"
        assert [tuple(r) for r in got.collect()] == \
            [tuple(r) for r in spark.sql(q_ol).collect()]
        # LIMIT without a total ORDER is row-arbitrary: refuses
        eng.sql("select o_orderpriority as k from orders group by "
                "o_orderpriority union all select o_orderstatus as k "
                "from orders group by o_orderstatus limit 3")
        assert eng.last_plan_accelerated is None

        # UNION (distinct) refuses: the dedup wrapper is outside the
        # matched fragment
        q4 = ("select o_orderpriority as k from orders group by "
              "o_orderpriority union select o_orderstatus as k "
              "from orders group by o_orderstatus")
        got = eng.sql(q4)
        assert eng.last_plan_accelerated is None
        assert norm(got.collect()) == norm(spark.sql(q4).collect())
    finally:
        eng._default_refl_store().drop("ub_r1")
        eng._default_refl_store().drop("ub_r2")


def test_round8_feature_composition(spark):
    """The round-8 features composed in ONE session: agg + raw
    reflections accelerate union and window shapes, plan-cache hits
    preserve the acceleration markers, and — the security-critical
    interaction — attaching a row policy immediately stops BOTH
    acceleration paths AND the plan cache never serves a pre-policy
    plan (the policy DDL invalidates wholesale)."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION fc_agg "
            "USING DIMENSIONS (o_orderpriority) "
            "MEASURES (o_totalprice (SUM, COUNT))")
    eng.sql("ALTER TABLE orders CREATE RAW REFLECTION fc_raw "
            "USING DISPLAY (o_orderkey, o_custkey, o_orderpriority)")
    q_agg = ("select o_orderpriority, count(*) as n from orders "
             "group by o_orderpriority")
    q_win = ("select o_custkey, row_number() over (order by o_orderkey)"
             " as rn from orders where o_orderpriority = '1-URGENT'")
    try:
        n_all = eng.sql(q_agg)
        assert eng.last_plan_accelerated == "fc_agg"
        total_all = sum(r["n"] for r in n_all.collect())
        eng.sql(q_win)
        assert eng.last_plan_accelerated == "fc_raw"
        # cache hits preserve the markers
        h0 = eng.plan_cache_hits
        eng.sql(q_agg)
        assert eng.plan_cache_hits == h0 + 1
        assert eng.last_plan_accelerated == "fc_agg"
        eng.sql(q_win)
        assert eng.last_plan_accelerated == "fc_raw"

        # row policy attaches -> NO acceleration path may serve raw
        # rows, and the plan cache must not serve the pre-policy plans
        eng.sql("create function fc_pol(pri string) return "
                "pri = '1-URGENT'")
        eng.sql("alter table orders add row access policy "
                "fc_pol(o_orderpriority)")
        filtered = eng.sql(q_agg)
        assert eng.last_plan_accelerated is None, \
            "policied table served from a reflection"
        rows = filtered.collect()
        assert sum(r["n"] for r in rows) < total_all
        assert {r["o_orderpriority"] for r in rows} == {"1-URGENT"}
        eng.sql(q_win)
        assert eng.last_plan_accelerated is None

        # dropping the policy restores acceleration (fresh plans)
        eng.sql("alter table orders drop row access policy "
                "fc_pol(o_orderpriority)")
        eng.sql(q_agg)
        assert eng.last_plan_accelerated == "fc_agg"
    finally:
        eng._default_refl_store().drop("fc_agg")
        eng._default_refl_store().drop("fc_raw")


def test_case_when_guarded_ratio_substitutes(spark, tmp_path):
    """CASE WHEN count(*)>0 THEN sum(x)/count(*) END — the division
    re-applies over decimal partials; values agree with the base plan
    to float tolerance (decimal vs double division rounding)."""
    from dremio_oss_spark.engine import Engine

    import os as _os

    eng = Engine(spark)
    spark.read.parquet(_os.path.join(SF_SMALL, "orders.parquet")) \
        .createOrReplaceTempView("cw_orders")
    eng.sql("ALTER TABLE cw_orders CREATE AGGREGATE REFLECTION cwr "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM, COUNT))")
    q = ("select o_orderstatus, case when count(*) > 0 then "
         "sum(o_totalprice)/count(*) else 0.0 end as r "
         "from cw_orders group by o_orderstatus")
    base = {r["o_orderstatus"]: float(r["r"])
            for r in spark.sql(q).collect()}
    got_df = eng.sql(q)
    assert eng.last_plan_accelerated == "cwr"
    got = {r["o_orderstatus"]: float(r["r"]) for r in got_df.collect()}
    assert base.keys() == got.keys()
    for k in base:
        assert abs(base[k] - got[k]) < 1e-6 * max(1.0, abs(base[k]))
    # nested CASE predicate shapes: AND/OR/NOT/null tests all splice
    q2 = ("select o_orderstatus, case when count(*) > 10 and "
          "not (sum(o_totalprice) is null) then count(*) else -1 end "
          "as c from cw_orders group by o_orderstatus")
    base2 = sorted(tuple(r) for r in spark.sql(q2).collect())
    got2_df = eng.sql(q2)
    assert eng.last_plan_accelerated == "cwr"
    assert sorted(tuple(r) for r in got2_df.collect()) == base2
    eng._refl_store.drop("cwr")
    spark.catalog.dropTempView("cw_orders")


def test_load_and_compact_materialization_sql(spark):
    """SQL arms for the reflection-manager internals
    (SqlLoadMaterialization parserImpls.ftl:1406,
    SqlCompactMaterialization :1428): LOAD exposes the materialization
    as a queryable frame, COMPACT rewrites it to target-sized files
    with identical rows and keeps substitution live."""
    import os as _os

    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    spark.read.parquet(_os.path.join(SF_SMALL, "orders.parquet")) \
        .createOrReplaceTempView("lcm_orders")
    eng.sql("ALTER TABLE lcm_orders CREATE AGGREGATE REFLECTION lcm "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    mat = eng.sql("LOAD MATERIALIZATION METADATA lcm")
    assert {"o_orderstatus", "sum_o_totalprice",
            "count_all"} <= set(mat.columns)
    n_before = mat.count()
    res = eng.sql("COMPACT MATERIALIZATION lcm AS 'g2'").first()
    assert "files" in res["result"]
    q = ("select o_orderstatus, sum(o_totalprice) as s "
         "from lcm_orders group by o_orderstatus")
    got = eng.sql(q)
    assert eng.last_plan_accelerated == "lcm"
    assert got.count() == n_before
    eng._refl_store.drop("lcm")
    spark.catalog.dropTempView("lcm_orders")


def test_refresh_policy_grace_and_expiry(spark):
    """Dataset-level refresh/grace policy (the reference's
    AccelerationSettings refreshPeriod/gracePeriod consumed by
    DependencyManager/RefreshDoneHandler): past the refresh period the
    reflection is DUE but still substitutes; past the grace period it
    is EXPIRED and never serves until refreshed."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    load(spark, SF_SMALL, "orders").createOrReplaceTempView("ord_pol")
    eng.sql("ALTER TABLE ord_pol CREATE AGGREGATE REFLECTION pol_r "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    eng.sql("ALTER DATASET ord_pol SET ACCELERATION "
            "REFRESH EVERY 1 SECOND EXPIRE AFTER 60 SECONDS")
    store = eng._refl_store
    refl = store._reflections["pol_r"]

    def probe(alias):  # fresh text per probe (plan cache keys on text)
        eng.sql(f"select o_orderstatus, sum(o_totalprice) as {alias} "
                "from ord_pol group by o_orderstatus")
        return eng.last_plan_accelerated

    def status():
        return eng.sql("select status from sys.reflections "
                       "where reflection_name = 'pol_r'").first()[0]

    # fresh: substitutes
    assert probe("s1") == "pol_r" and status() == "CAN_ACCELERATE"
    # past refresh period, within grace: DUE, still substitutes
    refl.last_refresh_ms = store._now_ms() - 5_000
    assert probe("s2") == "pol_r" and status() == "DUE"
    # past grace: EXPIRED, refuses — plans from base
    refl.last_refresh_ms = store._now_ms() - 120_000
    assert probe("s3") is None and status() == "EXPIRED"
    # REFRESH REFLECTIONS brings it current and it serves again
    out = eng.sql("REFRESH REFLECTIONS").collect()
    assert "pol_r" in out[0][1]
    assert probe("s4") == "pol_r" and status() == "CAN_ACCELERATE"
    # no-expiry policy: even ancient materializations keep serving
    eng.sql("ALTER DATASET ord_pol SET ACCELERATION "
            "REFRESH EVERY 1 SECOND NEVER EXPIRE")
    refl.last_refresh_ms = store._now_ms() - 100_000_000
    assert probe("s5") == "pol_r" and status() == "DUE"
    eng._refl_store.drop("pol_r")
    spark.catalog.dropTempView("ord_pol")


def test_refresh_reflections_dependency_order(spark):
    """REFRESH REFLECTIONS refreshes in dependency order: a reflection
    on a VDS refreshes AFTER the reflection on the base dataset its SQL
    reads (DependencyManager's dependency-driven ordering)."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    load(spark, SF_SMALL, "orders").createOrReplaceTempView("dep_base")
    eng.create_vds("dsp", "v1",
                   "select o_orderstatus, o_totalprice from dep_base")
    eng.sql("ALTER TABLE dsp__v1 CREATE AGGREGATE REFLECTION zz_on_vds "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    eng.sql("ALTER TABLE dep_base CREATE AGGREGATE REFLECTION aa_on_base "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM, COUNT))")
    store = eng._refl_store
    store._reflections["zz_on_vds"].stale = True
    store._reflections["aa_on_base"].stale = True
    names = eng.refresh_due_reflections()
    # zz sorts before aa alphabetically is false (aa < zz) — flip the
    # names so ALPHABETICAL order alone would run the VDS one first,
    # proving the dependency edge (not name order) drove the result
    names2_first = names.index("aa_on_base") < names.index("zz_on_vds")
    assert names2_first, names
    # and with adversarial naming: base named zz, vds named aa
    eng.sql("ALTER TABLE dep_base CREATE AGGREGATE REFLECTION "
            "zz_base2 USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (MIN))")
    eng.sql("ALTER TABLE dsp__v1 CREATE AGGREGATE REFLECTION aa_vds2 "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (MAX))")
    for n in ("zz_base2", "aa_vds2"):
        store._reflections[n].stale = True
    names = eng.refresh_due_reflections()
    assert names.index("zz_base2") < names.index("aa_vds2"), names
    for n in ("zz_on_vds", "aa_on_base", "zz_base2", "aa_vds2"):
        store.drop(n)
    eng.drop_vds("dsp", "v1")
    spark.catalog.dropTempView("dep_base")


def test_dim_granularity_by_day(spark):
    """BY DAY dims store cast(ts as date) under the same name
    (ReflectionExpander.java:194-210): the materialization's dim column
    is DATE-typed and rolls up to day cells; the conf-gated reference
    default (spark.dremio.reflections.defaultDateGranularity=true)
    applies DAY to plain TIMESTAMP dims exactly like the reference's
    default-DATE behavior."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    load(spark, SF_SMALL, "events").createOrReplaceTempView("ev_g")
    eng.sql("ALTER TABLE ev_g CREATE AGGREGATE REFLECTION g1 "
            "USING DIMENSIONS (event_type, ts BY DAY) "
            "MEASURES (value (SUM))")
    store = eng._refl_store
    refl = store._reflections["g1"]
    assert refl.granularity == {"ts": "day"}
    # a filter on another dim still matches; a sub-day filter on the
    # BY DAY column refuses
    eng.sql("select event_type, count(*) as n from ev_g "
            "where event_type = 'error' group by event_type")
    assert eng.last_plan_accelerated == "g1"
    eng.sql("select event_type, count(*) as n from ev_g "
            "where ts >= '2024-01-01 06:30:00' group by event_type")
    assert eng.last_plan_accelerated is None
    mat = spark.read.parquet(store._data_dir(refl))
    assert dict(mat.dtypes)["ts"] == "date"
    # day cells, not raw-ts cells: strictly fewer rows than raw grain
    raw_groups = spark.table("ev_g").select("event_type", "ts") \
        .distinct().count()
    assert mat.count() < raw_groups
    # the reference default: plain TIMESTAMP dims default to DAY when
    # the conf is on; non-temporal dims never do
    spark.conf.set("spark.dremio.reflections.defaultDateGranularity",
                   "true")
    try:
        eng.sql("ALTER TABLE ev_g CREATE AGGREGATE REFLECTION g2 "
                "USING DIMENSIONS (event_type, ts) "
                "MEASURES (value (SUM))")
        assert store._reflections["g2"].granularity == {"ts": "day"}
    finally:
        spark.conf.unset("spark.dremio.reflections.defaultDateGranularity")
    # off (default): plain ts dim stays raw grain
    eng.sql("ALTER TABLE ev_g CREATE AGGREGATE REFLECTION g3 "
            "USING DIMENSIONS (event_type, ts) "
            "MEASURES (value (SUM))")
    assert store._reflections["g3"].granularity is None
    for n in ("g1", "g2", "g3"):
        store.drop(n)
    spark.catalog.dropTempView("ev_g")


def test_plan_cache_invalidates_on_expiry(spark):
    """Grace expiry flips with TIME, not a store mutation — the plan
    cache must stop serving a cached SUBSTITUTED plan the moment its
    reflection crosses the grace boundary (same SELECT text, no
    intervening statement)."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    load(spark, SF_SMALL, "orders").createOrReplaceTempView("pc_ord")
    eng.sql("ALTER TABLE pc_ord CREATE AGGREGATE REFLECTION pc_r "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    eng.sql("ALTER DATASET pc_ord SET ACCELERATION "
            "REFRESH EVERY 1 SECOND EXPIRE AFTER 600 SECONDS")
    store = eng._refl_store
    refl = store._reflections["pc_r"]
    q = ("select o_orderstatus, sum(o_totalprice) as s from pc_ord "
         "group by o_orderstatus")
    eng.sql(q)
    assert eng.last_plan_accelerated == "pc_r"
    hits0 = eng.plan_cache_hits
    eng.sql(q)  # same text: cache hit, still accelerated
    assert eng.plan_cache_hits == hits0 + 1
    assert eng.last_plan_accelerated == "pc_r"
    # cross the grace boundary WITHOUT any statement in between
    refl.last_refresh_ms = store._now_ms() - 10**9
    eng.sql(q)
    assert eng.last_plan_accelerated is None, \
        "cached substituted plan served past expiry"
    store.refresh_policies.pop("pc_ord", None)
    store.drop("pc_r")
    spark.catalog.dropTempView("pc_ord")


def test_refresh_reflections_quarantines_broken_entries(spark):
    """One broken reflection (its base view dropped) must not fail the
    whole REFRESH REFLECTIONS batch: it quarantines INVALID and the
    healthy reflections still refresh (the auto-refresh fail-safe
    contract applied to the due list)."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    load(spark, SF_SMALL, "orders").createOrReplaceTempView("rr_ok")
    load(spark, SF_SMALL, "nation").createOrReplaceTempView("rr_gone")
    eng.sql("ALTER TABLE rr_ok CREATE AGGREGATE REFLECTION rr_good "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    eng.sql("ALTER TABLE rr_gone CREATE AGGREGATE REFLECTION rr_bad "
            "USING DIMENSIONS (n_regionkey) MEASURES (n_nationkey (MIN))")
    store = eng._refl_store
    store._reflections["rr_good"].stale = True
    store._reflections["rr_bad"].stale = True
    spark.catalog.dropTempView("rr_gone")  # break rr_bad's base
    names = eng.refresh_due_reflections()
    assert names == ["rr_good"], names
    assert store._reflections["rr_bad"].invalid
    assert not store._reflections["rr_good"].stale
    for n in ("rr_good", "rr_bad"):
        store.drop(n)
    spark.catalog.dropTempView("rr_ok")


def test_auto_refresh_due_conf(spark):
    """spark.dremio.reflections.autoRefreshDue=true refreshes time-DUE
    reflections inline at the substitution probe (the scheduler-less
    deployment knob); default off keeps serving the last build."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    load(spark, SF_SMALL, "orders").createOrReplaceTempView("ad_ord")
    eng.sql("ALTER TABLE ad_ord CREATE AGGREGATE REFLECTION ad_r "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    eng.sql("ALTER DATASET ad_ord SET ACCELERATION "
            "REFRESH EVERY 1 SECOND NEVER EXPIRE")
    store = eng._refl_store
    refl = store._reflections["ad_r"]
    # default: DUE does not refresh inline
    refl.last_refresh_ms = store._now_ms() - 60_000
    eng.sql("select o_orderstatus, sum(o_totalprice) as s1 "
            "from ad_ord group by o_orderstatus")
    assert store.is_due(refl), "still due — no inline refresh by default"
    spark.conf.set("spark.dremio.reflections.autoRefreshDue", "true")
    try:
        eng.sql("select o_orderstatus, sum(o_totalprice) as s2 "
                "from ad_ord group by o_orderstatus")
        assert eng.last_plan_accelerated == "ad_r"
        assert not store.is_due(refl), "inline refresh must re-stamp"
    finally:
        spark.conf.unset("spark.dremio.reflections.autoRefreshDue")
    store.refresh_policies.pop("ad_ord", None)
    store.drop("ad_r")
    spark.catalog.dropTempView("ad_ord")


def test_snapshot_incremental_refresh_stamps(spark, tmp_path):
    """A successful lake fold must re-stamp last_refresh_ms like the
    full-refresh path does — otherwise the reflection appears
    DUE/EXPIRED right after refreshing (advisor-found r10)."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.plans import Measure
    from dremio_oss_spark.plans.reflections import ReflectionStore
    from dremio_oss_spark.sources.delta import (read_delta,
                                                resolve_snapshot,
                                                write_delta)

    store = ReflectionStore(spark, str(tmp_path / "refl"))
    t = str(tmp_path / "d")
    df = spark.range(20).select(
        (F.col("id") % 2).alias("g"),
        F.col("id").cast("double").alias("v"))
    write_delta(spark, df, t, enable_cdf=True)
    refl = store.create_aggregation_reflection(
        "st_r", read_delta(spark, t), "st_tbl", ["g"],
        [Measure("count", "*")])
    refl.base_version = resolve_snapshot(spark, t).version
    write_delta(spark, df, t, mode="append")
    refl.last_refresh_ms = 0  # pretend ancient
    assert store.snapshot_incremental_refresh("st_r", t) == 20
    assert refl.last_refresh_ms > 0, \
        "merge branch must _stamp like the full-refresh path"
    # the zero-new fast path also counts as a successful refresh
    refl.last_refresh_ms = 0
    assert store.snapshot_incremental_refresh("st_r", t) == 0
    assert refl.last_refresh_ms > 0
    store.drop("st_r")


def test_refresh_reflections_for_dotted_vds_name(spark):
    """ALTER VDS space.name REFRESH REFLECTIONS passes the dotted form
    while VDS-backed reflections record the flattened temp-view name —
    the per-dataset filter must match through either spelling
    (advisor-found r10: dotted form silently refreshed nothing)."""
    from dremio_oss_spark.catalog import load
    from dremio_oss_spark.engine import Engine

    eng = Engine(spark)
    load(spark, SF_SMALL, "orders").createOrReplaceTempView("dn_base")
    eng.create_vds("dnsp", "v1",
                   "select o_orderstatus, o_totalprice from dn_base")
    eng.sql("ALTER TABLE dnsp__v1 CREATE AGGREGATE REFLECTION dn_r "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    store = eng._refl_store
    store._reflections["dn_r"].stale = True
    # dotted form reaches the flat-recorded reflection
    out = eng.sql("ALTER VDS dnsp.v1 REFRESH REFLECTIONS").first()
    assert "dn_r" in out[1], out
    assert not store._reflections["dn_r"].stale
    # flat form keeps working too
    store._reflections["dn_r"].stale = True
    assert eng.refresh_due_reflections("dnsp__v1") == ["dn_r"]
    store.drop("dn_r")
    eng.drop_vds("dnsp", "v1")
    spark.catalog.dropTempView("dn_base")


def _star_vds(spark, tmp_path):
    """An engine with a small star VDS `st.sales_v` (parquet fact and
    dim) carrying one aggregate reflection, `r_star`."""
    from dremio_oss_spark.engine import Engine

    spark.createDataFrame(
        [(i, i % 3, "ab"[i % 2], 0.5 * i, i % 4) for i in range(60)],
        "id long, rk long, cat string, amt double, qty long") \
        .write.mode("overwrite").parquet(str(tmp_path / "fact"))
    spark.createDataFrame([(0, "EU"), (1, "US"), (2, "APAC")],
                          "rk long, region string") \
        .write.mode("overwrite").parquet(str(tmp_path / "dim"))
    spark.read.parquet(str(tmp_path / "fact")) \
        .createOrReplaceTempView("st_fact")
    spark.read.parquet(str(tmp_path / "dim")) \
        .createOrReplaceTempView("st_dim")
    eng = Engine(spark)
    eng.create_space("st")
    eng.create_vds("st", "sales_v",
                   "select cat, amt, qty, region from st_fact "
                   "join st_dim on st_fact.rk = st_dim.rk")
    eng.sql("ALTER VDS st.sales_v CREATE AGGREGATE REFLECTION r_star "
            "USING DIMENSIONS (region, cat) MEASURES (amt (SUM, COUNT), "
            "qty (SUM))")
    return eng


def test_star_vds_reflection_accelerates_through_plan_tree(spark, tmp_path):
    """A reflection on a star VDS answers the dashboard shapes over that
    VDS: the plan tree takes the reflected view as one leaf, so the
    join inside it is never matched edge by edge.  Each answer has the
    unaccelerated dtypes (the decimal partials cast back to double)
    and values.  The `'sys.x'` literal must not trip the probe's
    catalog-view guard."""
    eng = _star_vds(spark, tmp_path)
    try:
        for q in (
            "select region, sum(amt) as revenue from st.sales_v "
            "group by region order by region",
            "select cat, count(*) as n, sum(qty) as q from st.sales_v "
            "where region in ('EU', 'sys.x') group by cat order by cat",
            "select region, sum(amt) as revenue from st.sales_v "
            "where cat = 'a' group by region order by revenue desc limit 2",
        ):
            got = eng.sql(q)
            assert eng.last_plan_accelerated == "r_star", q
            base = spark.sql(q.replace("st.sales_v", "st__sales_v"))
            assert got.dtypes == base.dtypes, q
            assert got.collect() == base.collect(), q
    finally:
        eng._refl_store.drop("r_star")


def test_uncovered_select_analyzes_once(spark, tmp_path, monkeypatch):
    """A SELECT over a reflected dataset that no reflection covers is
    analyzed by Spark once: normal planning reuses the probe's frame."""
    eng = _star_vds(spark, tmp_path)
    calls = []
    real_sql = spark.sql

    def counting_sql(text, *a, **kw):
        calls.append(text)
        return real_sql(text, *a, **kw)

    try:
        monkeypatch.setattr(spark, "sql", counting_sql)
        df = eng.sql("select region, max(qty) as m from st.sales_v "
                     "group by region")
        monkeypatch.undo()
        assert eng.last_plan_accelerated is None
        assert len(calls) == 1, calls
        assert sorted(df.collect()) == sorted(spark.sql(
            "select region, max(qty) as m from st__sales_v "
            "group by region").collect())
    finally:
        eng._refl_store.drop("r_star")


def test_read_memo_keeps_one_entry_per_path(spark, tmp_path):
    """The materialization read memo holds one handle per live
    materialization dir: refreshes that publish new generations drop
    the removed dirs' entries, and an append into the current
    generation replaces its entry instead of adding one."""
    import os

    from dremio_oss_spark.plans import ReflectionStore

    src = spark.range(30).selectExpr("id % 3 as g", "id as v", "id as ts")
    src.write.mode("overwrite").parquet(str(tmp_path / "src"))
    src = spark.read.parquet(str(tmp_path / "src"))
    store = ReflectionStore(spark, str(tmp_path / "refl"))
    store.create_raw_reflection("mr", src, table="memo_t",
                                display_cols=["g", "v", "ts"],
                                watermark_col="ts")
    refl = store._raw["mr"]
    for _ in range(5):
        store.rebuild("mr", src)
        store._read_data(store._data_dir(refl)).count()
    memo = store._read_data_memo
    assert set(memo) <= {os.path.join(refl.path, d)
                         for d in os.listdir(refl.path)}
    assert len(memo) <= 2, sorted(memo)
    cur = store._data_dir(refl)
    before = memo[cur]
    more = spark.range(30, 40).selectExpr("id % 3 as g", "id as v",
                                          "id as ts")
    assert store.incremental_refresh_raw("mr", more) == 10
    assert store._read_data(cur).count() == 40
    assert memo[cur] is not before and len(memo) <= 2
    store.drop("mr")
    assert not memo


def test_append_refresh_seeds_raw_read(spark, tmp_path):
    """An append refresh of a raw reflection seeds the read memo with a
    known-schema handle over the current generation, as a full write
    does: the next raw answer launches no schema-inference job
    (`parquet at`) and returns the rows of the unaccelerated query."""
    import uuid

    from dremio_oss_spark.engine import Engine

    def write_view(lo, hi, d):
        spark.range(lo, hi, 1, 1).selectExpr("id as k", "id % 7 as v") \
            .write.parquet(str(tmp_path / d))
        spark.read.parquet(str(tmp_path / d)) \
            .createOrReplaceTempView("rseed_t")

    write_view(0, 100, "t")
    eng = Engine(spark)
    eng.sql("ALTER TABLE rseed_t CREATE RAW REFLECTION r_seed "
            "USING DISPLAY (k, v) REFRESH BY APPEND (k)")
    store = eng._default_refl_store()
    write_view(0, 130, "t2")
    q = "select k, v from rseed_t where k >= 90 order by k"
    try:
        assert store.incremental_refresh_raw(
            "r_seed", spark.table("rseed_t")) == 30
        sc = spark.sparkContext
        group = f"seed-{uuid.uuid4().hex}"
        sc.setJobGroup(group, q)
        try:
            got = [tuple(r) for r in eng.sql(q).collect()]
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert eng.last_plan_accelerated == "r_seed"
        status = sc._jsc.sc().statusStore()
        names = [status.job(j).name()
                 for j in sc.statusTracker().getJobIdsForGroup(group)]
        assert names and not any(n.startswith("parquet at")
                                 for n in names), names
        assert got == [tuple(r) for r in spark.sql(q).collect()]
        assert len(got) == 40
    finally:
        store.drop("r_seed")


# -- one-split materializations: no Exchange, one Spark job ----------------

def _executed_plan(df) -> str:
    """The final (AQE) executed plan of `df`, after collecting it."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _canon(rows) -> list:
    """Rows as sortable tuples, floats rounded (partial re-sums may
    differ from a one-pass sum in the last bits)."""
    out = [tuple(round(float(x), 6) if isinstance(x, float) else x
                 for x in r) for r in rows]
    return sorted(out, key=lambda r: tuple((v is None, str(v)) for v in r))


def test_one_split_materialization_answers_in_one_job(spark):
    """A materialization Spark reads as ONE file split is scanned as one
    partition (`coalesce(1)`), so a covered GROUP BY ... ORDER BY, a
    covered ORDER BY ... DESC LIMIT k and a raw-reflection ORDER BY
    each run as exactly one Spark job with no Exchange.  Above one split
    (maxPartitionBytes lowered below the file size, new generations
    written by COMPACT) the same statements keep the plan they always
    had — a hash exchange for the rollup, a range exchange for a global
    sort — and return identical rows."""
    from dremio_oss_spark.catalog import register_testdata
    from dremio_oss_spark.engine import Engine

    from .conftest import count_jobs

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    eng.sql("ALTER TABLE orders CREATE AGGREGATE REFLECTION os_agg "
            "USING DIMENSIONS (o_orderpriority, o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    eng.sql("ALTER TABLE orders CREATE RAW REFLECTION os_raw "
            "USING DISPLAY (o_orderkey, o_totalprice)")
    cases = [
        ("os_agg", "select o_orderpriority, sum(o_totalprice) as rev "
                   "from orders group by o_orderpriority "
                   "order by o_orderpriority",
         ("Exchange hashpartitioning", "Exchange rangepartitioning")),
        ("os_agg", "select o_orderstatus, sum(o_totalprice) as rev "
                   "from orders group by o_orderstatus "
                   "order by rev desc limit 2",
         ("Exchange hashpartitioning", "TakeOrderedAndProject")),
        ("os_raw", "select o_orderkey, o_totalprice from orders "
                   "where o_totalprice > 100000 "
                   "order by o_totalprice desc, o_orderkey",
         ("Exchange rangepartitioning",)),
    ]
    store = eng._default_refl_store()
    one_split = {}
    for name, q, _ in cases:
        assert count_jobs(eng, q) == 1, q
        assert eng.last_plan_accelerated == name, q
        df = eng.sql(q)
        plan = _executed_plan(df)
        assert "Exchange" not in plan and "Coalesce 1" in plan, plan
        one_split[q] = [tuple(r) for r in df.collect()]
        assert _canon(one_split[q]) == _canon(spark.sql(q).collect()), q

    old = spark.conf.get("spark.sql.files.maxPartitionBytes", None)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        for name in ("os_agg", "os_raw"):
            eng.sql(f"COMPACT MATERIALIZATION {name} AS 'split'")
            refl = store._reflections.get(name) or store._raw[name]
            assert sum(os.path.getsize(f) for f in store._data_files(
                store._data_dir(refl))) > 1024
        for name, q, nodes in cases:
            df = eng.sql(q)
            assert eng.last_plan_accelerated == name, q
            plan = _executed_plan(df)
            assert "Coalesce" not in plan, plan
            for node in nodes:
                assert node in plan, (node, plan)
            assert [tuple(r) for r in df.collect()] == one_split[q], q
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.maxPartitionBytes")
        else:
            spark.conf.set("spark.sql.files.maxPartitionBytes", old)
        store.drop("os_agg")
        store.drop("os_raw")


def test_compact_materialization_sizes_files_by_split(spark, tmp_path):
    """COMPACT rewrites an unpartitioned materialization as one file per
    read split a single file of its bytes would get: with
    spark.sql.files.maxPartitionBytes below the materialization's size
    that is more than one file, at the defaults a small
    materialization compacts to one file.  The rows never change."""
    from dremio_oss_spark.plans import ReflectionStore

    src_dir = str(tmp_path / "src")
    spark.range(0, 4000, 1, 4).selectExpr(
        "id as k", "id * 7 % 1000 as v").write.parquet(src_dir)
    store = ReflectionStore(spark, str(tmp_path / "refl"))
    store.create_raw_reflection("cm", spark.read.parquet(src_dir),
                                table="cm_t", display_cols=["k", "v"])
    refl = store._raw["cm"]

    def files():
        return store._data_files(store._data_dir(refl))

    def rows():
        return sorted(tuple(r) for r in
                      store._read_data(store._data_dir(refl)).collect())

    want = rows()
    assert len(files()) == 4
    size = sum(os.path.getsize(f) for f in files())
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(size // 3))
    try:
        before, after = store.compact_materialization("cm")
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert before == 4 and after == len(files()) > 1
    assert rows() == want
    assert store.compact_materialization("cm") == (after, 1)
    assert rows() == want
    store.drop("cm")


def _assert_one_split_parity(eng, spark, q, name, plain_q=None):
    """Accelerated and unaccelerated collects are equal, and the
    accelerated plan is the one-split shape: a coalesced scan and no
    Exchange."""
    df = eng.sql(q)
    assert eng.last_plan_accelerated == name, q
    plan = _executed_plan(df)
    assert "Exchange" not in plan and "Coalesce 1" in plan, plan
    assert _canon(df.collect()) == _canon(
        spark.sql(plain_q or q).collect()), q
    return plan


def test_one_split_answers_equal_unaccelerated(spark, tmp_path):
    """Every substitution shape whose plan loses its exchanges on a
    one-split materialization returns the unaccelerated rows: HAVING,
    COUNT(DISTINCT) re-derived from a stored dim, ROLLUP and GROUPING
    SETS (a union of per-set rollups), a PARTITION BY reflection under
    a pruning equality filter, a grand total over an empty
    materialization, and a BY DAY temporal dim."""
    from dremio_oss_spark.catalog import load, register_testdata
    from dremio_oss_spark.engine import Engine

    register_testdata(spark, SF_SMALL)
    eng = Engine(spark)
    store = eng._default_refl_store()
    eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION par_li "
            "USING DIMENSIONS (l_returnflag, l_linestatus, l_suppkey) "
            "MEASURES (l_quantity (SUM, COUNT))")
    for q in (
        "select l_returnflag, sum(l_quantity) as s from lineitem "
        "group by l_returnflag having sum(l_quantity) > 20000",
        "select l_returnflag, count(distinct l_suppkey) as n "
        "from lineitem group by l_returnflag",
        "select l_returnflag, l_linestatus, sum(l_quantity) as s, "
        "count(l_quantity) as n from lineitem "
        "group by rollup(l_returnflag, l_linestatus)",
        "select l_returnflag, l_suppkey, count(l_quantity) as n "
        "from lineitem group by grouping sets "
        "((l_returnflag), (l_suppkey), ()) order by 1, 2",
    ):
        _assert_one_split_parity(eng, spark, q, "par_li")
    store.drop("par_li")

    # PARTITION BY: one split when Spark packs every file into one
    # partition (a split floor of 1); the equality filter still prunes
    old = spark.conf.get("spark.sql.files.minPartitionNum", None)
    spark.conf.set("spark.sql.files.minPartitionNum", "1")
    try:
        eng.sql("ALTER TABLE lineitem CREATE AGGREGATE REFLECTION par_pb "
                "USING DIMENSIONS (l_returnflag, l_linestatus) "
                "MEASURES (l_quantity (SUM)) PARTITION BY (l_returnflag)")
        assert len(store._data_files(store._data_dir(
            store._reflections["par_pb"]))) > 1
        plan = _assert_one_split_parity(
            eng, spark,
            "select l_linestatus, sum(l_quantity) as s from lineitem "
            "where l_returnflag = 'R' group by l_linestatus", "par_pb")
        assert "PartitionFilters: [isnotnull(__p_l_returnflag" in plan
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.minPartitionNum")
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", old)
        store.drop("par_pb")

    empty_dir = str(tmp_path / "empty_orders")
    load(spark, SF_SMALL, "orders").where("1 = 0").write.parquet(empty_dir)
    spark.read.parquet(empty_dir).createOrReplaceTempView("par_empty")
    eng.sql("ALTER TABLE par_empty CREATE AGGREGATE REFLECTION par_e "
            "USING DIMENSIONS (o_orderstatus) "
            "MEASURES (o_totalprice (SUM))")
    _assert_one_split_parity(
        eng, spark, "select sum(o_totalprice) as s, count(*) as n "
        "from par_empty", "par_e")
    store.drop("par_e")

    load(spark, SF_SMALL, "events").createOrReplaceTempView("par_ev")
    eng.sql("ALTER TABLE par_ev CREATE AGGREGATE REFLECTION par_day "
            "USING DIMENSIONS (event_type, ts BY DAY) "
            "MEASURES (value (SUM))")
    _assert_one_split_parity(
        eng, spark, "select event_type, date_trunc('month', ts) as m, "
        "cast(sum(value) as decimal(28,4)) as s, count(*) as n "
        "from par_ev group by event_type, date_trunc('month', ts)",
        "par_day")
    store.drop("par_day")
    for v in ("par_empty", "par_ev"):
        spark.catalog.dropTempView(v)


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_one_split_path_reflection_after_dml(spark, tmp_path, fmt):
    """A lake table's path reflection, refreshed after DML commits,
    answers from a one-split materialization with no Exchange and
    returns the rows plain Spark reads from the table."""
    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources import delta as D
    from dremio_oss_spark.sources import iceberg as I

    write, read = ((D.write_delta, D.read_delta) if fmt == "delta"
                   else (I.write_iceberg, I.read_iceberg))
    t = str(tmp_path / fmt)
    write(spark, spark.createDataFrame(
        [(k, k % 3, float(k)) for k in range(30)],
        "k long, g long, v double"), t)
    eng = Engine(spark)
    eng.sql(f"ALTER TABLE '{t}' CREATE AGGREGATE REFLECTION split_lake "
            "USING DIMENSIONS (g) MEASURES (v (SUM, COUNT))")
    q = ("select g, cast(sum(v) as double) as s, count(*) as n "
         "from {} group by g order by g")
    try:
        eng.sql(f"insert into '{t}' select id as k, id % 3 as g, "
                "cast(id as double) as v from range(30, 40)")
        eng.sql(f"delete from '{t}' where k < 5")
        eng.sql(f"update '{t}' set v = v + 1 where k >= 35")
        read(spark, t).createOrReplaceTempView("split_lake_direct")
        _assert_one_split_parity(eng, spark, q.format(f"'{t}'"),
                                 "split_lake",
                                 q.format("split_lake_direct"))
    finally:
        eng._default_refl_store().drop("split_lake")
        spark.catalog.dropTempView("split_lake_direct")
