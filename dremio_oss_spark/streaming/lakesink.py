"""Streaming ingest into a Delta table with exactly-once appends.

The reference's closest feature is auto-ingest pipes (CREATE PIPE ... AS
COPY INTO, `sabot/grammar/.../ingestion.ftl:195`), which incrementally
load new files into a table with duplicate protection.  Spark-first,
that is Structured Streaming: `readStream` over the source directory,
`foreachBatch` into the Delta transaction log, and the protocol's `txn`
(SetTransaction) action for idempotence — each micro-batch commit
records (appId, batchId); a batch replayed after a failure between the
table commit and the stream checkpoint is detected (batchId <= last
committed txn version for the appId) and skipped, so rows land exactly
once no matter where the job dies.

Scale notes:
- The stream checkpoint (offset log) bounds re-reads; the txn handshake
  bounds re-WRITES.  Both are required for exactly-once file ingest —
  this is the same two-ledger design delta-spark's own streaming sink
  uses (public PROTOCOL.md, "Transaction Identifiers").
- `availableNow` drains the current backlog in bounded micro-batches
  and stops: the incremental-job trigger for a growing lake directory.
- Each micro-batch append is one parquet stage + one KB-scale log
  commit; file-count control comes from the Delta writer's
  repartition-by-partition-columns staging.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def stream_append_delta(stream: DataFrame, table: str, app_id: str,
                        checkpoint: str,
                        partition_by: list[str] | None = None) -> int:
    """Drain `stream` (availableNow) into Delta `table` via exactly-once
    foreachBatch appends.  Returns the number of batches actually
    committed (replays skip)."""
    from ..sources.delta import last_txn_version, write_delta

    spark = stream.sparkSession
    committed = {"n": 0}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        last = last_txn_version(table, app_id)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: already in the table
        write_delta(spark, batch_df, table, mode="append",
                    partition_by=partition_by, txn=(app_id, batch_id))
        committed["n"] += 1

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", checkpoint)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return committed["n"]


def stream_append_iceberg(stream: DataFrame, table: str, app_id: str,
                          checkpoint: str,
                          partition_by: list[str] | None = None) -> int:
    """Exactly-once streaming appends into an Iceberg table: same
    two-ledger design as the Delta sink, with the (appId, batchId) dedup
    key stamped into each snapshot's summary — where Iceberg's own
    streaming sinks record it — instead of a `txn` log action."""
    from ..sources.iceberg import last_iceberg_txn_version, write_iceberg

    spark = stream.sparkSession
    committed = {"n": 0}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        last = last_iceberg_txn_version(table, app_id)
        if last is not None and batch_id <= last:
            return  # replayed micro-batch: already committed
        mode = "append" if os.path.isdir(
            os.path.join(table, "metadata")) else "overwrite"
        write_iceberg(spark, batch_df, table, mode=mode,
                      partition_by=partition_by,
                      txn=(app_id, batch_id))
        committed["n"] += 1

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", checkpoint)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return committed["n"]


def stream_delta_cdf(spark: SparkSession, table: str) -> DataFrame:
    """Streaming Change Data Feed source: tail the table's cdc files as
    they land (delta-spark's readChangeFeed in streaming mode).

    The file source checkpoints which cdc files it has consumed, so a
    downstream CDC pipeline (the natural feed for cdf_incremental_refresh
    or an upsert sink on another table) resumes exactly where it left
    off.  Pure appends emit no cdc files — an append-heavy CDC consumer
    pairs this with the add-derived inserts of batch read_delta_cdf."""
    from ..sources.delta import resolve_snapshot

    snap = resolve_snapshot(spark, table)
    if snap.config.get("delta.enableChangeDataFeed") != "true":
        raise ValueError(
            f"delta.enableChangeDataFeed is not set on {table}")
    cdc_dir = os.path.join(table, "_change_data")
    os.makedirs(cdc_dir, exist_ok=True)
    schema = snap.schema.add("_change_type", "string")
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", "cdc-*.parquet")
            .parquet(cdc_dir))


def stream_upsert_delta(stream: DataFrame, table: str, keys: list[str],
                        checkpoint: str) -> int:
    """Streaming UPSERT sink: foreachBatch MERGE INTO the Delta table on
    `keys` (the CDC-style structured-streaming upsert pattern).

    Replay safety comes from MERGE's idempotence rather than a txn
    ledger: re-merging an already-applied batch matches every key and
    rewrites identical values, so a crash between table-commit and
    stream-checkpoint costs a redundant rewrite, never a duplicate row
    (contrast stream_append_delta, where blind appends NEED the
    (appId, batchId) dedup).  Batches are key-deduped first — MERGE's
    cardinality rule requires a unique source."""
    from pyspark.sql import functions as F

    from ..sources.delta import DML, merge_into_delta, write_delta
    from ..sources.lake_dml import codec_of

    spark = stream.sparkSession
    n_batches = {"n": 0}

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        # DETERMINISTIC survivor per key: ordering by the keys alone
        # ties every row in the group, so a crash-replayed batch could
        # elect a DIFFERENT row and re-merge different values.  Ordering
        # by the serialized remainder of the row breaks ties stably
        # (same rows -> same survivor on every execution).
        rest = [c for c in batch_df.columns if c not in keys]
        w = Window.partitionBy(*keys).orderBy(
            *([F.to_json(F.struct(*rest)).desc()] if rest else
              [F.lit(1)]))
        uniq = (batch_df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1).drop("__rn"))
        if codec_of(table) is DML:
            merge_into_delta(spark, table, uniq, on=keys)
        else:
            write_delta(spark, uniq, table)
        n_batches["n"] += 1

    from pyspark.sql.window import Window

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (stream.writeStream.foreachBatch(_sink)
             .option("checkpointLocation", checkpoint)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return n_batches["n"]


def iceberg_sink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg twin of delta_sink_query: exactly-once stream ingest, then
    aggregate the table; a replayed drain must not change the counts."""
    import re
    import shutil

    from pyspark.sql import functions as F

    from ..queries.tpch import dsum
    from ..sources.iceberg import read_iceberg
    from .windows import stream_events

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf_dir)))
    base = os.path.join(repo_root, ".scratch", f"iceberg_sink-{tag}")
    shutil.rmtree(base, ignore_errors=True)  # fresh run per invocation
    table = os.path.join(base, "events_iceberg")
    ckpt = os.path.join(base, "ckpt")
    stream_append_iceberg(stream_events(spark, sf_dir), table,
                          app_id="events-ingest", checkpoint=ckpt)
    # a second drain from the same checkpoint must be a no-op
    stream_append_iceberg(stream_events(spark, sf_dir), table,
                          app_id="events-ingest", checkpoint=ckpt)
    return (read_iceberg(spark, table)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 dsum(F.col("value"), 6).alias("value_sum"))
            .orderBy("event_type"))


def delta_sink_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked end-to-end: stream the events table into a Delta
    table exactly-once, then aggregate the table — counts must equal a
    batch aggregation of the source no matter how many times the drain
    ran before (idempotent restarts)."""
    from pyspark.sql import functions as F

    import re

    from ..queries.tpch import dsum
    from ..sources.delta import read_delta
    from .windows import stream_events

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(__file__)))
    tag = re.sub(r"\W", "_", os.path.basename(os.path.normpath(sf_dir)))
    base = os.path.join(repo_root, ".scratch", f"delta_sink-{tag}")
    import shutil

    shutil.rmtree(base, ignore_errors=True)  # fresh run per invocation
    table = os.path.join(base, "events_delta")
    ckpt = os.path.join(base, "ckpt")
    stream = stream_events(spark, sf_dir)
    stream_append_delta(stream, table, app_id="events-ingest",
                        checkpoint=ckpt)
    # a second drain from the same checkpoint must be a no-op
    stream_append_delta(stream_events(spark, sf_dir), table,
                        app_id="events-ingest", checkpoint=ckpt)
    return (read_delta(spark, table)
            .groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 dsum(F.col("value"), 6).alias("value_sum"))
            .orderBy("event_type"))
