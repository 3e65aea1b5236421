"""Structured Streaming queries vs batch DuckDB oracle."""

from __future__ import annotations

import pytest

from dremio_oss_spark.queries import streaming_q

from .conftest import SF_SMALL
from .oracle import compare, duckdb_conn


@pytest.fixture(scope="module")
def oracle():
    con = duckdb_conn(SF_SMALL)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(streaming_q.STREAMING_ORACLE))
def test_streaming_parity(spark, oracle, name):
    df = streaming_q.STREAMING_QUERIES[name](spark, SF_SMALL)
    expected = oracle.execute(streaming_q.STREAMING_ORACLE[name]).fetchdf()
    problems = compare(df, expected, ordered=False)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_watermark_drops_late_data_across_restarts(spark, tmp_path):
    """Append-mode windowed aggregation with a 1h watermark, drained
    twice (availableNow) against one checkpoint: a second batch's
    too-late event must be DROPPED (its window already finalized and its
    state evicted), while on-time events keep flowing.  This is the
    late-data contract our streaming surface claims (SURVEY §2.9)."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def write_batch(name, hours):
        spark.createDataFrame(
            [(base + dt.timedelta(hours=h),) for h in hours], "ts timestamp"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        import glob
        import shutil
        f = glob.glob(str(tmp_path / name / "part-*.parquet"))[0]
        shutil.copy(f, os.path.join(src, f"{name}.parquet"))

    def drain():
        stream = (
            spark.readStream.schema("ts timestamp").parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    write_batch("b1", [0, 1, 2, 3, 4, 5])  # watermark after drain: 04:00
    drain()
    first = {
        (r["w_start"].hour, r["n"])
        for r in spark.read.parquet(sink).collect()
    }
    assert first == {(0, 1), (1, 1), (2, 1), (3, 1)}  # windows closed by wm

    # batch 2: one VERY late event (00:30, far below the 04:00 watermark)
    # and one on-time event at 07:00
    write_batch("b2", [0.5, 7])
    drain()
    final = {}
    for r in spark.read.parquet(sink).collect():
        final[r["w_start"].hour] = final.get(r["w_start"].hour, 0) + r["n"]
    # late 00:30 row dropped: window 0 still counts exactly 1; the 07:00
    # event advanced the watermark to 06:00, closing windows 4 and 5
    assert final == {0: 1, 1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_state_partitions_conf_both_settings(spark):
    """`spark.dremio.stream.statePartitions` sets the state-store
    partition count of a drained stream (default 4): the windowed
    aggregate's state operator reports 4 shuffle partitions at the
    default and 1 at the setting 1, with the same rows, and the
    session's shuffle partition count is restored after each drain."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.streaming import windows

    key = "spark.dremio.stream.statePartitions"
    prev = spark.conf.get("spark.sql.shuffle.partitions")

    def drain(sink):
        agg = (windows.stream_events(spark, SF_SMALL)
               .withWatermark("ts", "1 hour")
               .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
               .agg(F.count("*").alias("n")))
        q = windows.run_to_table(
            agg.select("w.start", "event_type", "n"), sink, "complete")
        assert spark.conf.get("spark.sql.shuffle.partitions") == prev
        parts = {op["numShufflePartitions"]
                 for op in q.lastProgress["stateOperators"]}
        return parts, sorted(tuple(r) for r in spark.table(sink).collect())

    default = drain("state_parts_default")
    spark.conf.set(key, "1")
    try:
        one = drain("state_parts_one")
    finally:
        spark.conf.unset(key)
    assert default[0] == {4} and one[0] == {1}
    assert default[1] and default[1] == one[1]


def test_stream_events_normalizes_ntz_sessions(spark):
    """Regression (round-3 driver run): under a session with
    spark.sql.timestampType=TIMESTAMP_NTZ the events parquet surfaces
    `ts` as TIMESTAMP_NTZ, which withWatermark rejects
    (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE) — and under that same conf the
    DDL name "timestamp" ALSO resolves to NTZ, so the cast must name
    timestamp_ltz explicitly.  stream_events must emit LTZ regardless of
    session conf."""
    from dremio_oss_spark.streaming.windows import stream_events

    sess = spark.newSession()
    sess.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    ev = stream_events(sess, SF_SMALL)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    # must be watermarkable (this is what the driver run tripped on)
    ev.withWatermark("ts", "1 hour")


def test_delta_sink_exactly_once_across_restarts(spark, tmp_path):
    """foreachBatch → Delta with txn (appId, batchId) actions: a batch
    replayed after a crash between table-commit and stream-checkpoint
    does not double-append; a second drain over new source files appends
    only the new rows; a different appId is independent."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import last_txn_version, read_delta
    from dremio_oss_spark.streaming import stream_append_delta

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    def write_src(name, n0, n1):
        (spark.range(n0, n1).select(F.col("id").alias("k"))
         .coalesce(1).write.mode("overwrite")
         .parquet(str(tmp_path / "stage")))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
        shutil.move(part, str(src / name))

    def stream():
        schema = "k long"
        return spark.readStream.schema(schema).parquet(str(src))

    write_src("a.parquet", 0, 100)
    n = stream_append_delta(stream(), table, "app1", ckpt)
    assert n == 1
    assert read_delta(spark, table).count() == 100
    assert last_txn_version(table, "app1") == 0

    # drain again, no new data: no batch, no growth
    assert stream_append_delta(stream(), table, "app1", ckpt) == 0
    assert read_delta(spark, table).count() == 100

    # simulate a crash replay: re-deliver batch 0 manually
    from dremio_oss_spark.sources.delta import write_delta

    replay = spark.range(100).select(F.col("k") if False else
                                     F.col("id").alias("k"))
    last = last_txn_version(table, "app1")
    if not (last is not None and 0 <= last):
        write_delta(spark, replay, table, mode="append", txn=("app1", 0))
    assert read_delta(spark, table).count() == 100  # skipped

    # new file -> only the delta appends
    write_src("b.parquet", 100, 150)
    assert stream_append_delta(stream(), table, "app1", ckpt) == 1
    assert read_delta(spark, table).count() == 150
    assert last_txn_version(table, "app1") == 1
    # independent writer id starts its own sequence
    assert last_txn_version(table, "other") is None


def test_iceberg_sink_exactly_once_across_restarts(spark, tmp_path):
    """Iceberg twin of the Delta sink test: the (appId, batchId) dedup
    key lives in snapshot summaries instead of txn log actions."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.iceberg import (
        last_iceberg_txn_version,
        read_iceberg,
    )
    from dremio_oss_spark.streaming.lakesink import stream_append_iceberg

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    def write_src(name, n0, n1):
        (spark.range(n0, n1).select(F.col("id").alias("k"))
         .coalesce(1).write.mode("overwrite")
         .parquet(str(tmp_path / "stage")))
        import glob
        import shutil

        part = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
        shutil.move(part, str(src / name))

    def stream():
        return spark.readStream.schema("k long").parquet(str(src))

    write_src("a.parquet", 0, 100)
    assert stream_append_iceberg(stream(), table, "app1", ckpt) == 1
    assert read_iceberg(spark, table).count() == 100
    assert last_iceberg_txn_version(table, "app1") == 0

    # drain again, no new data: no batch, no growth
    assert stream_append_iceberg(stream(), table, "app1", ckpt) == 0
    assert read_iceberg(spark, table).count() == 100

    # new file -> only the delta appends; the ledger advances
    write_src("b.parquet", 100, 150)
    assert stream_append_iceberg(stream(), table, "app1", ckpt) == 1
    assert read_iceberg(spark, table).count() == 150
    assert last_iceberg_txn_version(table, "app1") == 1
    assert last_iceberg_txn_version(table, "other") is None


def test_delta_upsert_sink_idempotent_merge(spark, tmp_path):
    """Streaming upsert via foreachBatch MERGE: duplicate key deliveries
    collapse, a replayed batch rewrites identical state (no dup rows),
    and a later batch updates matched keys in place."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import read_delta
    from dremio_oss_spark.streaming.lakesink import stream_upsert_delta

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")

    def write_src(name, rows):
        import glob
        import shutil

        (spark.createDataFrame(rows, "k long, v string").coalesce(1)
         .write.mode("overwrite").parquet(str(tmp_path / "stage")))
        part = glob.glob(str(tmp_path / "stage" / "*.parquet"))[0]
        shutil.move(part, str(src / name))

    def stream():
        return spark.readStream.schema("k long, v string").parquet(str(src))

    # duplicate keys inside one batch collapse to one row
    write_src("a.parquet", [(1, "x"), (2, "y"), (1, "x")])
    assert stream_upsert_delta(stream(), table, ["k"], ckpt) == 1
    assert read_delta(spark, table).count() == 2

    # replay the same data manually (simulated crash-replay): idempotent
    from dremio_oss_spark.sources.delta import merge_into_delta

    merge_into_delta(
        spark, table,
        spark.createDataFrame([(1, "x"), (2, "y")], "k long, v string"),
        on=["k"])
    assert read_delta(spark, table).count() == 2

    # a later batch updates k=2 and inserts k=3
    write_src("b.parquet", [(2, "y2"), (3, "z")])
    assert stream_upsert_delta(stream(), table, ["k"], ckpt) == 1
    cur = {r["k"]: r["v"] for r in read_delta(spark, table).collect()}
    assert cur == {1: "x", 2: "y2", 3: "z"}


def test_stream_delta_cdf_tails_changes(spark, tmp_path):
    """Streaming CDF source: each drain picks up exactly the cdc rows
    committed since the last checkpointed offset."""
    from pyspark.sql import functions as F

    from dremio_oss_spark.sources.delta import (
        delete_from_delta,
        update_delta,
        write_delta,
    )
    from dremio_oss_spark.streaming.lakesink import stream_delta_cdf

    t = str(tmp_path / "t")
    ckpt = str(tmp_path / "ckpt")
    write_delta(spark,
                spark.range(10).select(F.col("id").alias("k"),
                                       (F.col("id") * 1.0).alias("v")),
                t, enable_cdf=True)

    def drain():
        got: list = []

        def sink(batch_df, _bid):
            got.extend(batch_df.collect())

        q = (stream_delta_cdf(spark, t).writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return got

    delete_from_delta(spark, t, "k >= 8")
    out1 = drain()
    assert {r["_change_type"] for r in out1} == {"delete"}
    assert len(out1) == 2

    update_delta(spark, t, {"v": "v + 1"}, "k = 0")
    out2 = drain()  # same checkpoint: only the NEW cdc rows
    assert sorted(r["_change_type"] for r in out2) == [
        "update_postimage", "update_preimage"]

    import pytest

    t2 = str(tmp_path / "plain")
    write_delta(spark, spark.range(3).toDF("k"), t2)
    with pytest.raises(ValueError, match="enableChangeDataFeed"):
        stream_delta_cdf(spark, t2)


def test_pipe_on_error_skip_file(spark, tmp_path):
    """Pipes accept ON_ERROR 'skip_file' only (SqlManagePipe.java:84):
    a malformed file is consumed-but-skipped so the pipe never wedges
    on it and never retries it; errors land in copy_errors."""
    import os

    import pytest as _pytest

    from dremio_oss_spark.engine import Engine
    from dremio_oss_spark.sources.writer import read_copy_errors, read_table

    spark.createDataFrame([(1, "x")], "a int, b string") \
        .write.parquet(str(tmp_path / "tgt"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    with open(os.path.join(src, "ok.csv"), "w") as f:
        f.write("a,b\n2,y\n")
    with open(os.path.join(src, "bad.csv"), "w") as f:
        f.write("a,b\n3,z\nboom,junk,extra\n")

    eng = Engine(spark)
    eng.sql(f"create pipe perr as copy into '{tmp_path / 'tgt'}' "
            f"from '{os.path.join(src, '*.csv')}' "
            "file_format 'csv' on_error 'skip_file'")
    n = eng._pipes().run("perr")
    assert n == 1  # ok.csv only; bad.csv skipped whole
    assert sorted(r["a"] for r in
                  read_table(spark, str(tmp_path / "tgt")).collect()) \
        == [1, 2]
    assert read_copy_errors(spark, str(tmp_path / "tgt")).count() == 1
    # second trigger: nothing new, the bad file is not retried
    assert eng._pipes().run("perr") == 0
    assert read_copy_errors(spark, str(tmp_path / "tgt")).count() == 1
    # non-skip_file explicit mode refuses at creation
    with _pytest.raises(ValueError, match="skip_file"):
        eng.sql(f"create pipe pbad as copy into '{tmp_path / 'tgt'}' "
                f"from '{os.path.join(src, '*.csv')}' "
                "file_format 'csv' on_error 'continue'")
