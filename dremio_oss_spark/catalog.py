"""Catalog layer: sources + dataset resolution.

Spark-first re-expression of the reference's namespace/source model
(dremio-oss `services/namespace/src/main/proto/dataset.proto:43` DatasetConfig,
`sabot/kernel/.../exec/store/StoragePlugin.java`): a *source* is a directory
of data files; a *physical dataset* (PDS) is one file/dir registered as a
temp view; a *virtual dataset* (VDS, `dataset.proto:60`) is a named SQL view.

At scale the registration is metadata-only: `spark.read.parquet(path)` is
lazy, so registering all tables of a 100 TB source costs a footer read per
file at planning time, not a data scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .plans.statistics import local_files, one_split

# tables the driver materializes at /root/testdata/<sf>/<name>.parquet
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def _allow_nanos(spark: SparkSession) -> None:
    """events.parquet stores TIMESTAMP(NANOS); without this runtime conf any
    session that didn't come from build_spark fails with PARQUET_TYPE_ILLEGAL."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def register_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register the driver's testdata tables as temp views; return handles.

    Memoized on the session object: repeated calls in the same session
    (every SQL-form query registers) would otherwise re-read 10 parquet
    footers each — pure py4j/planning overhead.  A different sf_dir in
    the same session re-registers and replaces the views; the cache dies
    with the session object, so no cross-session staleness.
    """
    hit = getattr(spark, "_dremio_testdata_views", None)
    if hit is not None and hit[0] == sf_dir:
        return hit[1]
    _allow_nanos(spark)
    out: dict[str, DataFrame] = {}
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            # through load(): shares the per-session handle memo with
            # every load() caller, so a table some earlier query already
            # planned costs no second schema-inference job here
            df = load(spark, sf_dir, t)
            df.createOrReplaceTempView(t)
            out[t] = df
    spark._dremio_testdata_views = (sf_dir, out)
    return out


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table without registering a view.

    Memoized per (session, path, mtime): each `spark.read.parquet` costs a
    ~70-90 ms py4j+footer round-trip, and the query suite issues ~225 of
    them per run — pure planning overhead for immutable fixture tables.
    The cached object is a DataFrame HANDLE (a logical plan), never data;
    the mtime in the key invalidates the entry if the fixture dir is ever
    rebuilt (bench.py's upsampled sf1/sf5 corpora), and the cache dies
    with the session object.
    """
    if name == "events":
        _allow_nanos(spark)
    p = os.path.join(sf_dir, f"{name}.parquet")
    try:
        # the newest entry's mtime: an in-place part-file overwrite
        # must not keep serving a stale plan
        mt, sizes = local_files(p)
        key = (p, mt)
    except OSError:
        return spark.read.parquet(p)  # missing: surface Spark's error
    try:
        memo = spark.__dict__.setdefault("_dremio_load_memo", {})
    except (AttributeError, TypeError):  # pragma: no cover — frozen obj
        return spark.read.parquet(p)
    hit = memo.get(key)
    if hit is None:
        # a table Spark reads as one split is handed out as one
        # partition (`one_split`), decided once per entry under the
        # session's confs at that time
        df = spark.read.parquet(p)
        hit = memo[key] = df.coalesce(1) if one_split(spark, sizes) else df
    return hit


def forget_loads(spark: SparkSession) -> None:
    """Drop the session's `load` and `register_testdata` memos: their
    one-split decisions hold only under the split confs they were taken
    under."""
    spark.__dict__.pop("_dremio_load_memo", None)
    spark.__dict__.pop("_dremio_testdata_views", None)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table with `ts` as a proper timestamp.

    The file stores TIMESTAMP(NANOS), which Spark's parquet reader rejects;
    with spark.sql.legacy.parquet.nanosAsLong=true it arrives as long nanos.
    Integer-divide to micros (ns epochs ~1.7e18 overflow double precision,
    so never divide as float) — testdata nanos are exactly µs-aligned.

    nanosAsLong is a runtime SQL conf, so set it here: sessions not built by
    build_spark (e.g. the driver's own) would otherwise fail with
    PARQUET_TYPE_ILLEGAL.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    df = load(spark, sf_dir, "events")
    if isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df
