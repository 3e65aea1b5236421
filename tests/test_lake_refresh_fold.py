"""The one lake refresh fold: a path reflection folds its table's change
rows (`codec.changes`) since the version it was built at, on Delta with
the change data feed and on Iceberg alike, and ends equal to a rebuild
after every row-level statement."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dremio_oss_spark.engine import Engine
from dremio_oss_spark.plans import Measure
from dremio_oss_spark.plans.reflections import ReflectionStore
from dremio_oss_spark.sources import delta, iceberg, lake_dml

from .conftest import count_spark_work

_MEASURES = [Measure("sum", "v"), Measure("count", "*")]


def _write(spark, fmt: str, df, t: str) -> None:
    """A new lake table; Delta's carries the change data feed."""
    if fmt == "delta":
        delta.write_delta(spark, df, t, enable_cdf=True)
    else:
        iceberg.write_iceberg(spark, df, t)


def _rows(spark, lo: int, hi: int, parts: int = 2):
    return spark.range(lo, hi, 1, parts).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("g"),
        F.col("id").cast("double").alias("v"))


def _groups(df) -> dict:
    return {r["g"]: (float(r["sum_v"]), int(r["count_all"]))
            for r in df.collect()}


@pytest.mark.parametrize("fmt", ["delta", "iceberg"])
def test_fold_after_delete_counts_live_rows(spark, tmp_path, fmt):
    """A DELETE folds in as subtracted rows: 100 rows, 10 deleted, the
    materialization counts 90.  The append-only snapshot diff this fold
    replaced read the rewritten file's 2 surviving rows as new rows and
    counted 102."""
    codec = lake_dml.codec(fmt)
    t = str(tmp_path / fmt)
    _write(spark, fmt, _rows(spark, 0, 100, 8), t)
    store = ReflectionStore(spark, str(tmp_path / "refl"))
    refl = store.create_aggregation_reflection(
        "del_r", codec.read(spark, t), "del_t", ["g"], _MEASURES)
    refl.base_version = codec.at(spark, t, None).version
    lake_dml.delete(codec, spark, t, "v < 10")
    assert store.snapshot_incremental_refresh("del_r", t) > 0
    mat = store.load_materialization("del_r")
    assert mat.agg(F.sum("count_all")).first()[0] == 90
    assert _groups(mat) == _groups(codec.read(spark, t).groupBy("g").agg(
        F.sum("v").alias("sum_v"), F.count("*").alias("count_all")))


def _random_statement(rnd: random.Random, verb: str, spark, codec, t: str,
                      mode: str, next_k: int) -> int:
    """Run one row-level statement with random bounds; returns the next
    unused key."""
    lo = rnd.randrange(0, next_k)
    hi = lo + rnd.randrange(1, 15)
    if verb == "insert":
        n = rnd.randrange(1, 20)
        codec.write(spark, _rows(spark, next_k, next_k + n, 1), t,
                    mode="append")
        return next_k + n
    if verb == "delete":
        lake_dml.delete(codec, spark, t, f"k >= {lo} AND k < {hi}",
                        mode=mode)
    elif verb == "update":
        lake_dml.update(codec, spark, t,
                        {"v": f"v + {rnd.randrange(1, 100)}",
                         "g": f"(g + {rnd.randrange(1, 3)}) % 7"},
                        f"k >= {lo} AND k < {hi}", mode=mode)
    else:  # merge: update a key range that may hold deleted keys, insert
        # the keys past the end
        n = rnd.randrange(1, 10)
        src = spark.range(lo, min(hi, next_k), 1, 1).select(
            F.col("id").alias("k"), (F.col("id") % 3).alias("g"),
            (F.col("id") * 2).cast("double").alias("v")).unionByName(
            _rows(spark, next_k, next_k + n, 1))
        lake_dml.merge(codec, spark, t, src, ["k"], mode=mode)
        return next_k + n
    return next_k


@pytest.mark.parametrize("fmt,mode", [
    ("delta", lake_dml.COW), ("delta", lake_dml.MOR),
    ("iceberg", lake_dml.COW), ("iceberg", lake_dml.MOR)])
def test_fold_equals_rebuild_under_random_dml(spark, tmp_path, fmt, mode):
    """A seeded random INSERT/UPDATE/DELETE/MERGE sequence: after every
    statement the folded materialization equals a rebuild's, and its
    COUNT(*) partials add up to the live rows."""
    codec = lake_dml.codec(fmt)
    t = str(tmp_path / "t")
    _write(spark, fmt, _rows(spark, 0, 60), t)
    store = ReflectionStore(spark, str(tmp_path / "refl"))
    folded = store.create_aggregation_reflection(
        "fold_r", codec.read(spark, t), "fold_t", ["g"], _MEASURES)
    folded.base_version = codec.at(spark, t, None).version
    store.create_aggregation_reflection(
        "rebuild_r", codec.read(spark, t), "fold_t", ["g"], _MEASURES)
    rnd = random.Random(f"{fmt}/{mode}")
    verbs = ["insert", "update", "delete", "merge"]
    rnd.shuffle(verbs)
    verbs.append(rnd.choice(["update", "delete", "merge"]))
    next_k = 60
    for verb in verbs:
        next_k = _random_statement(rnd, verb, spark, codec, t, mode, next_k)
        store.snapshot_incremental_refresh("fold_r", t)
        live = codec.read(spark, t)
        store.rebuild("rebuild_r", live)
        got = _groups(store.load_materialization("fold_r"))
        assert got == _groups(store.load_materialization("rebuild_r")), verb
        assert sum(c for _s, c in got.values()) == live.count(), verb


# Spark (jobs, stages) of a covered aggregate read whose path reflection
# refreshes after an INSERT, an UPDATE and a DELETE: Delta without the
# change data feed rebuilds, Delta with it and Iceberg fold.
_REFRESH_READ_WORK = {"delta": (3, 4), "delta_cdf": (5, 8),
                      "iceberg": (4, 7)}


@pytest.mark.parametrize("case", sorted(_REFRESH_READ_WORK))
def test_path_refresh_route_and_cost(spark, tmp_path, case):
    """The refresh route of each table kind, and the pinned Spark work
    of the read that runs it."""
    t = str(tmp_path / case)
    df = _rows(spark, 0, 40)
    if case == "iceberg":
        iceberg.write_iceberg(spark, df, t)
    else:
        delta.write_delta(spark, df, t, enable_cdf=case == "delta_cdf")
    eng = Engine(spark)
    eng.sql(f"ALTER TABLE '{t}' CREATE AGGREGATE REFLECTION route_r "
            "USING DIMENSIONS (g) MEASURES (v (SUM, COUNT))")
    try:
        eng.sql(f"INSERT INTO '{t}' select id as k, id % 5 as g, "
                "cast(id as double) as v from range(40, 50, 1, 1)")
        eng.sql(f"UPDATE '{t}' SET v = v + 1 WHERE k < 5")
        eng.sql(f"DELETE FROM '{t}' WHERE k >= 45")
        read = f"select g, sum(v) as s from '{t}' group by g"
        work = count_spark_work(eng, read)
        assert eng.last_plan_accelerated == "route_r"
        row = eng.sql("select refresh_mode, refresh_reason, refresh_errors "
                      "from sys.reflections "
                      "where reflection_name = 'route_r'").first()
        assert tuple(row) == (
            ("full", "delta.enableChangeDataFeed is not set", 0)
            if case == "delta" else ("incremental", None, 0))
        got = {r["g"]: r["s"] for r in eng.sql(read).collect()}
        codec = lake_dml.codec_of(t)
        assert got == {r["g"]: r["s"] for r in codec.read(spark, t)
                       .groupBy("g").agg(F.sum("v").alias("s")).collect()}
        assert work == _REFRESH_READ_WORK[case], work
    finally:
        eng._default_refl_store().drop("route_r")
