"""SparkSession factory for the engine.

Spark-first equivalent of the reference coordinator bootstrap
(dremio-oss `sabot/exec/context/SabotContext` + `ExecConstants` defaults):
instead of hand-tuning batch sizes / slice targets (reference
`exec/ExecConstants.java:209-212,414-417`), we let Catalyst/Tungsten/AQE
pick physical strategy and only set scale-relevant knobs:

- AQE on (runtime re-plan, skew-join handling, partition coalescing)
  replaces the reference's static `SimpleParallelizer` width planning.
- runtime bloom filters on (reference `exec/util/RuntimeFilterManager.java:43`).
- CBO + join reorder on (reference LOPT multi-join planning,
  `exec/planner/PlannerPhase.java:374-448`).
- UTC session timezone + Arrow-backed pandas interop for the Python
  boundary (the reference is Arrow-native end to end).

At 100 TB these same configs hold: AQE sizes shuffle partitions from
runtime stats, so the shuffle.partitions default here is only the
pre-AQE upper bound for local runs; on a real cluster you'd raise
`spark.sql.shuffle.partitions` to ~2-3x total cores and let AQE coalesce.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_spark(
    app_name: str = "dremio-oss-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession tuned for this engine."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # deterministic time semantics vs the DuckDB oracle
        .config("spark.sql.session.timeZone", "UTC")
        # scale knobs: AQE replans from runtime stats (partition coalescing,
        # skew-join splitting, broadcast demotion/promotion)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # runtime bloom filters == reference RuntimeFilterManager bloom pushdown
        # (NOTE: runtimeFilter.semiJoinReduction hangs session init on this
        # Spark build — do not enable it)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # CBO join reordering == reference DremioLoptOptimizeJoinRule
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # Arrow for any pandas-UDF boundary (vectorized, not row-at-a-time)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # parquet: keep NTZ inference stable, enable nested-schema pruning
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        # Spark cannot read parquet TIMESTAMP(NANOS) (events.ts); read nanos
        # as long and convert in catalog.load_events
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # lake files store TIMESTAMP as INT64 micros (the Iceberg spec's
        # encoding), whose footers carry min/max: commit stats then come
        # from the footers (sources/delta._footer_stats), not a scan.
        # A per-write option cannot do this: the writer takes the
        # session value.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # local runs: modest driver heap; harmless if JVM already up
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
