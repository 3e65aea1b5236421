"""Row-level DML and table maintenance over the lake formats: DELETE,
UPDATE and MERGE, each written once in both copy-on-write and
merge-on-read, and OPTIMIZE, TRUNCATE, ROLLBACK, VACUUM and REMOVE
ORPHAN FILES, each written once.

Reference: dremio-oss plans DML once over the table format, as one
copy-on-write plan generator (`DmlCopyOnWritePlanGenerator.java`:
rewrite the data files holding matched rows) and one positional
merge-on-read plan generator (`DmlPositionalMergeOnReadPlanGenerator.java`:
mark the matched rows' file path + row index dead and append their
post-image).  The verbs below are those two plans.  `sources/delta.py`
and `sources/iceberg.py` each supply a `Codec` that holds only what
differs between the formats:

- `resolve(spark, table, parent_snapshot)` -> the table's snapshot, with
  its `schema`.  `parent_snapshot` (Iceberg only) is a versioned
  catalog's branch snapshot: the statement commits detached, and
  always copy-on-write.
- `mode(snapshot, verb)` -> the mode the table's own property names
  (`delta.enableDeletionVectors`, `write.<verb>.mode`).
- `live(spark, table, snapshot, identity)` -> the snapshot's live rows,
  existing deletes applied.  `identity=True` keeps each row's `__file`
  (the decoded name of its data file, taken from the parquet scan's
  own `_metadata.file_name`; names are unique within a snapshot) and
  `__pos` (row index in that file).
- `rewrite(spark, table, snapshot, operation, hit_files, rewrite,
  inserts, changes)` -> version: stage `rewrite(<live rows of
  hit_files>)` and `inserts` as new files; commit them with the
  removal of `hit_files` (table-relative paths).  `rewrite=None`
  stages nothing for the hit files (TRUNCATE).  Copy-on-write plans
  `hit_files` in one observed Spark job over the matched rows
  (`hit_files`).
- `mark(spark, table, snapshot, operation, marked, post, changes)` ->
  version: encode `marked`'s `(__file, __pos)` as delete marks (Delta
  deletion vectors, Iceberg position-delete files), stage `post` as
  new files, commit.
- `cdf(snapshot)` -> whether commits carry `changes`: change rows with
  the table's columns plus `_change_type` (Delta's change data feed).
- `ops` -> the commit operation name of each verb.

Maintenance half of the contract (reference: `OptimizeHandler.java`,
`TruncateTableHandler.java`, `VacuumTableHandler.java`,
`SqlRollbackTable`, each written once over the table format):

- `at(spark, table, version)` -> the snapshot at `version` (None: the
  current one); an unknown version raises an error naming the table
  and the id.
- `files(table, snapshot)` -> `(table-relative file, partition
  values)` of each live data file, sorted by file.
- `properties(snapshot)` -> its table properties (`dremio.cluster_by`,
  `dremio.localsort` pick the OPTIMIZE layout).
- `versions(spark, table)` -> `(version, timestamp_ms)` of every
  version the table keeps, oldest first.
- `referenced(spark, table, version)` -> realpaths of the files that
  version reads: data files plus delete marks (Delta deletion-vector
  files, Iceberg delete files).
- `pins(table)` -> versions a named ref pins against expiry (Iceberg
  branches and tags).
- `expire(table, kept)` -> drop every other version from the table's
  history (Iceberg's snapshot list; Delta keeps its log).
- `restore(spark, table, current, target)` -> version: one claimed
  commit after `current` that restates `target`'s files, delete marks
  and schema.
- `log_dirs` -> top-level directories the file sweep never enters.

Change-feed half of the contract (reference: Dremio folds a table's
changes since the materialization's snapshot into a reflection,
`IncrementalUpdateServiceUtils.java:46`):

- `changes(spark, table, from_version, to_version)` -> the row changes
  of the commits after `from_version` up to `to_version`: the table's
  columns plus `_change_type`, where `insert` and `update_postimage`
  rows add and `delete` and `update_preimage` rows subtract.  Delta
  reads its change data feed (`read_delta_cdf`, whose own start
  version is inclusive); Iceberg derives the rows from the snapshot
  diff and its delete files (`read_iceberg_changes`).
- `no_feed(spark, table)` -> why the table hands out no `changes` at
  its current version (None: it does): "delta.enableChangeDataFeed is
  not set" on a Delta table without the change data feed.

Statement half of the contract: the engine's other lake statements
(reads, CTAS/INSERT, ALTER, the metadata table functions) call these
and never branch on the format (reference: one format plugin per table
format, `IcebergFormatPlugin` and `DeltaLakeFormatPlugin`, picked
through one registration table, `FormatCreator.java`):

- `name` -> "delta" or "iceberg" (SHOW CREATE TABLE's USING clause,
  the `format` column of `table_snapshot` and VACUUM CATALOG).
- `read(spark, table)` -> the current snapshot's rows, deletes applied.
- `write(spark, df, table, mode=, partition_by=)` -> version: the
  format's writer (`write_delta`, `write_iceberg`), looked up by module
  attribute at call time so a wrapper installed on it sees the call.
- `partitioning(snapshot)` -> `(source column, rendered field)` of
  each partition field (`p`, `bucket[4](k)`).
- `file_stats(snapshot)` -> each live data file's stats dict (None for
  a file without one), or None when delete marks make a count from
  metadata unsound.
- `alter(spark, table, add=, drop=)`, `change_column(spark, table,
  col, new_name, new_type)`, `set_properties(spark, table, props)`
  (a None value unsets) and `rewrite_manifests(spark, table)`: the
  metadata-only statements.
- `history(table)` -> `(version, operation, timestamp_ms)` of every
  commit the table keeps, oldest first.
- `manifests(table)` -> `(file name, kind, bytes)` of the metadata
  files behind the current state.
- `version_at(table, timestamp_ms)` -> the last version at or before
  that instant.
- `columns(table, version)` -> the column names at `version`, from
  the table metadata alone (no log replay, no manifest read).
- `scan(spark, table, equality, version)` -> the rows at `version`,
  with the live files pruned by `column -> value` equality bindings.

`codec_of(path)` is the one rule for which format a path holds: a
`_delta_log` directory is Delta, a `metadata/version-hint.text` file is
Iceberg, anything else is no lake table.

Fold rule: a copy-on-write commit that removes every live data file
drops the table's delete marks with them (the rewritten files are read
with the deletes applied, so no mark has a row left to apply to); a
commit that keeps any data file carries every mark forward.

One-snapshot rule: a statement resolves its snapshot once, then plans,
stages and commits against it.  The commit claims the version after
that snapshot with O_CREAT|O_EXCL, so a commit that landed after
planning makes the statement raise `ConcurrentWriteError` instead of
committing over a state it never read.

No-op rule: both commit functions make no commit when the statement
removes, marks and adds nothing; they return the snapshot's own
version.

MERGE sources must be unique on the key columns (the SQL MERGE
cardinality rule).  No source-side join carries a broadcast hint: AQE
broadcasts a small CDC batch and shuffles a multi-GB backfill, like the
reference's costed DIST/BROADCAST join instances (`HashJoinPrule`,
`PlannerPhase.java:719-725`).
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sqltext

COW, MOR = "copy-on-write", "merge-on-read"

# Plan-shape probe: the last copy-on-write MERGE rewrite join, kept so
# tests can assert its physical strategy (broadcast only when the
# source is small) without re-plumbing the commit path.  A bare
# reference: no extra computation.
_last_merge_join: DataFrame | None = None


@dataclass(frozen=True)
class Codec:
    """What one table format supplies to the verbs (module docstring)."""

    resolve: Callable
    mode: Callable
    live: Callable
    rewrite: Callable
    mark: Callable
    cdf: Callable
    ops: dict
    at: Callable
    files: Callable
    properties: Callable
    versions: Callable
    referenced: Callable
    pins: Callable
    expire: Callable
    restore: Callable
    log_dirs: tuple
    changes: Callable
    no_feed: Callable
    name: str
    read: Callable
    write: Callable
    partitioning: Callable
    file_stats: Callable
    alter: Callable
    change_column: Callable
    set_properties: Callable
    rewrite_manifests: Callable
    history: Callable
    manifests: Callable
    version_at: Callable
    columns: Callable
    scan: Callable


def codec(fmt: str) -> Codec:
    """The codec of a lake format name, "delta" or "iceberg"."""
    from . import delta, iceberg

    for c in (delta.DML, iceberg.DML):
        if c.name == fmt:
            return c
    raise ValueError(f"unsupported table format {fmt!r}")


def codec_of(path: str) -> Codec | None:
    """The codec of the lake table at `path`, or None when the path is
    no lake table (module docstring)."""
    if os.path.isdir(os.path.join(path, "_delta_log")):
        return codec("delta")
    if os.path.exists(os.path.join(path, "metadata", "version-hint.text")):
        return codec("iceberg")
    return None


def _src_expr(expr: str, alias: str = "s") -> str:
    """Rewrite `<alias>.`-qualified source references in a MERGE SET
    expression to the joined plan's `__s_` names.  Word-boundary
    anchored so a column whose name merely ends in the alias followed by
    a dotted reference (`prices.amount` under alias `s`) is left alone —
    a plain substring replace corrupted it to `price__s_amount`.
    String literals are data: `'see s.x'` stays as written."""
    return sqltext.sub(rf"\b{re.escape(alias)}\.", "__s_", expr)


def _apply_set_exprs(df: DataFrame, set_exprs: dict[str, str],
                     predicate: str | None = None) -> DataFrame:
    """SQL UPDATE SET semantics: every SET expression AND the WHERE
    predicate evaluate against the PRE-update row, in ONE projection.
    The old sequential withColumn loop was wrong twice over: a later
    SET's predicate re-tested an already-updated value, and
    cross-column SETs (SET a = b, b = a) read their co-assignee's
    post-image.  Found by the DML differential fuzzer (seed 5:
    `SET val = val - 12, cat = 'y' WHERE val > 75` left cat untouched
    on every row the val assignment had already dropped below the
    threshold).  `predicate=None` means the input is pre-filtered to
    matching rows (MOR post-image paths) — assignments still must
    evaluate against the pre-image together.

    SET targets resolve CASE-INSENSITIVELY like the rest of Spark SQL
    (the engine passes raw statement identifiers through); an
    assignment matching no column raises instead of silently adding
    one."""
    by_lower = {c.lower(): c for c in df.columns}
    resolved: dict[str, str] = {}
    for k, e in set_exprs.items():
        c = by_lower.get(k.lower())
        if c is None:
            raise ValueError(
                f"UPDATE SET references unknown column {k!r}")
        resolved[c] = e
    types = {f.name: f.dataType for f in df.schema.fields}
    cond = None if predicate is None else F.expr(predicate)
    cols = []
    for c in df.columns:
        if c in resolved:
            val = F.expr(resolved[c]).cast(types[c])
            cols.append((val if cond is None else
                         F.when(cond, val).otherwise(F.col(c)))
                        .alias(c))
        else:
            cols.append(F.col(c))
    return df.select(*cols)


def hit_files(codec: Codec, table: str, snap, rows: DataFrame) -> list[str]:
    """Table-relative data files behind `rows`' `__file` names, found in
    one Spark job: `rows` run through the `noop` sink under an
    `Observation` of `collect_set(__file)` (bounded by file count, never
    by row count), and the driver maps each name to its path through
    the snapshot's file list; a name no live file has raises.  Only
    these files are rewritten (file-level skipping, the same pruning
    `DeltaLakeScanPrel` relies on).  No sort or range repartition goes
    under the observed frame: a child that re-executes feeds the metric
    twice (see `reflections._fold_signed_changes`)."""
    from pyspark.sql import Observation

    obs = Observation()
    (rows.select("__file")
     .observe(obs, F.collect_set("__file").alias("files"))
     .write.format("noop").mode("overwrite").save())
    path_of = {os.path.basename(rel): rel
               for rel, _ in codec.files(table, snap)}
    names = obs.get["files"]
    unknown = sorted(set(names) - path_of.keys())
    if unknown:
        raise ValueError(
            f"scanned data files {unknown[:5]} match no live file of "
            f"{table}")
    return sorted(path_of[n] for n in names)


def _changes(**tagged: DataFrame | None) -> DataFrame | None:
    """Change-feed rows: each frame tagged with its keyword as
    `_change_type`, in keyword order."""
    frames = [df.withColumn("_change_type", F.lit(kind))
              for kind, df in tagged.items() if df is not None]
    return reduce(DataFrame.unionByName, frames) if frames else None


def _begin(codec: Codec, spark: SparkSession, table: str, verb: str,
           mode: str | None, parent_snapshot: int | None):
    """The statement's one snapshot, its mode (explicit, else the
    table's property) and its live rows with identity kept."""
    snap = codec.resolve(spark, table, parent_snapshot)
    if parent_snapshot is not None:
        mode = COW
    elif mode is None:
        mode = codec.mode(snap, verb)
    if mode not in (COW, MOR):
        raise ValueError(f"unknown {verb.upper()} mode {mode!r}; "
                         f"use {COW!r} or {MOR!r}")
    return snap, mode, codec.live(spark, table, snap, True)


def _write(codec: Codec, spark: SparkSession, table: str, snap,
           verb: str, mode: str, matched: DataFrame,
           image: Callable | None, rewrite: Callable,
           inserts: DataFrame | None = None,
           hit_rows: DataFrame | None = None) -> int:
    """Commit one statement.  `matched`: the live target rows it
    touches (identity kept); `image(matched)`: their post-image (None:
    the rows are deleted); `inserts`: brand-new rows.

    copy-on-write: rewrite the files holding `hit_rows` (default
    `matched`) through `rewrite` and stage `inserts` beside them.
    merge-on-read: mark `matched` dead and append the post-image and
    `inserts`; no existing data file is rewritten.  Existing deletes
    are applied before the post-image is computed, so a dead row is
    never resurrected as an updated copy."""
    cols = [f.name for f in snap.schema.fields]
    op = codec.ops[verb]
    cdf = codec.cdf(snap)

    def changes(post: DataFrame | None) -> DataFrame:
        pre = matched.select(*cols)
        if post is None:
            return _changes(delete=pre)
        return _changes(update_preimage=pre, update_postimage=post,
                        insert=inserts)

    if mode == COW:
        hits = hit_files(codec, table, snap,
                         matched if hit_rows is None else hit_rows)
        return codec.rewrite(
            spark, table, snap, op, hits, rewrite, inserts,
            changes(None if image is None else image(matched))
            if cdf else None)
    # persist when the marked rows feed more than the mark encode (the
    # post-image staging, the change rows): without it each action
    # re-runs the scan and its delete application.  A lone encode skips
    # it, since materializing the cache is a Spark job of its own.
    reused = image is not None or cdf
    if reused:
        matched = matched.persist()
    try:
        post = None if image is None else image(matched)
        staged = post if inserts is None else post.unionByName(inserts)
        return codec.mark(spark, table, snap, op, matched, staged,
                          changes(post) if cdf else None)
    finally:
        if reused:
            matched.unpersist()


def delete(codec: Codec, spark: SparkSession, table: str,
           predicate: str, mode: str | None = None,
           parent_snapshot: int | None = None) -> int:
    """DELETE FROM <table> WHERE <predicate>: rows where the predicate
    is true go; rows where it is false or NULL stay."""
    snap, mode, live = _begin(codec, spark, table, "delete", mode,
                              parent_snapshot)
    return _write(codec, spark, table, snap, "delete", mode,
                  live.where(predicate), None,
                  lambda files: files.where(f"({predicate}) IS NOT TRUE"))


def update(codec: Codec, spark: SparkSession, table: str,
           set_exprs: dict[str, str], predicate: str = "true",
           mode: str | None = None,
           parent_snapshot: int | None = None) -> int:
    """UPDATE <table> SET col = expr, ... [WHERE predicate]."""
    snap, mode, live = _begin(codec, spark, table, "update", mode,
                              parent_snapshot)
    cols = [f.name for f in snap.schema.fields]
    return _write(codec, spark, table, snap, "update", mode,
                  live.where(predicate),
                  lambda rows: _apply_set_exprs(rows.select(*cols),
                                                set_exprs),
                  lambda files: _apply_set_exprs(files, set_exprs,
                                                 predicate))


def merge(codec: Codec, spark: SparkSession, table: str,
          source: DataFrame, on: list[str],
          update_set: dict[str, str] | None = None,
          insert_not_matched: bool = True, mode: str | None = None,
          update_matched: bool = True,
          parent_snapshot: int | None = None, alias: str = "s") -> int:
    """MERGE INTO <table> USING <source> [AS alias] ON <key equality>
    WHEN MATCHED THEN UPDATE SET col = expr over `alias.*` | SET *
    [WHEN NOT MATCHED THEN INSERT *].  `update_set=None` is SET *:
    every non-key source column of a target column's name.
    `update_matched=False` is the INSERT-only form (SqlMergeIntoTable
    with insertCall alone).

    copy-on-write: hit files come from ONE semi join of the target
    scan against the source key set; the rewrite is a left join of
    only the hit files against the source; inserts are an anti join of
    the source against the live key set."""
    snap, mode, live = _begin(codec, spark, table, "merge", mode,
                              parent_snapshot)
    types = {f.name: f.dataType for f in snap.schema.fields}
    src_types = {f.name: f.dataType for f in source.schema.fields}
    inserts = None
    if insert_not_matched or not update_matched:
        # no distinct() under the anti join: it gives the same rows,
        # and each distinct() is a shuffle job of its own
        live_keys = codec.live(spark, table, snap, False).select(*on)
        inserts = source.join(live_keys, on, "left_anti").select(
            *[c if src_types.get(c) == t else F.col(c).cast(t).alias(c)
              for c, t in types.items()])
    if not update_matched:
        # matched target rows are untouched, so no file is rewritten or
        # marked in either mode: one append commit
        return codec.rewrite(
            spark, table, snap, codec.ops["merge"], [], None, inserts,
            _changes(insert=inserts) if codec.cdf(snap) else None)
    src = [F.col(c).alias(c if c in on else f"__s_{c}")
           for c in source.columns]

    def assign(rows: DataFrame, hit: Column | None) -> DataFrame:
        """The MERGE projection: a target column takes its SET
        expression where `hit` holds (every row when None) and keeps
        its value elsewhere."""
        out = []
        have = set(rows.columns)
        for c, t in types.items():
            if update_set is not None:
                val = (F.expr(_src_expr(update_set[c], alias)).cast(t)
                       if c in update_set else None)
            elif c not in on and f"__s_{c}" in have:
                val = F.col(f"__s_{c}")
                if src_types[c] != t:
                    val = val.cast(t)
            else:
                val = None
            if val is None:
                out.append(F.col(c))
                continue
            out.append((val if hit is None else
                        F.when(hit, val).otherwise(F.col(c))).alias(c))
        return rows.select(*out)

    def rewrite(files: DataFrame) -> DataFrame:
        global _last_merge_join
        _last_merge_join = files.join(
            source.select(*src, F.lit(True).alias("__s_matched")), on,
            "left")
        return assign(_last_merge_join,
                      F.col("__s_matched").isNotNull())

    return _write(codec, spark, table, snap, "merge", mode,
                  live.join(source.select(*src), on, "inner"),
                  lambda rows: assign(rows, None), rewrite, inserts,
                  hit_rows=live.join(source.select(*on), on,
                                     "left_semi"))


# -- table maintenance --------------------------------------------------------

def _zorder_rewrite(zorder_by: list[str], n_files: int, bits: int = 16):
    """Rewrite hook clustering rows along a Z-curve over `zorder_by`.

    Each column linearly quantizes to `bits` levels between its min and
    max (two driver scalars per column — no global-ordering window, so
    nothing funnels through one partition at 100 TB); the z-value
    interleaves the columns' bits, and a range repartition + sort on it
    yields `n_files` files whose min/max stats are tight on EVERY
    z-ordered column — multidimensional file skipping, where a linear
    sort only serves its leading column."""
    def rw(hits: DataFrame) -> DataFrame:
        lo_hi = hits.agg(*[f(c) for c in zorder_by
                           for f in (F.min, F.max)]).first()
        df = hits
        for i, c in enumerate(zorder_by):
            lo = float(lo_hi[2 * i] or 0)
            hi = float(lo_hi[2 * i + 1] or 0)
            span = (hi - lo) or 1.0
            q = F.least(
                F.floor((F.col(c).cast("double") - F.lit(lo))
                        / F.lit(span) * (1 << bits)),
                F.lit((1 << bits) - 1),
            ).cast("bigint")
            df = df.withColumn(f"__q_{i}", F.greatest(q, F.lit(0)))
        z = None
        for k in range(bits):
            for i in range(len(zorder_by)):
                bit = (F.shiftright(F.col(f"__q_{i}"), k)
                       .bitwiseAND(F.lit(1)))
                term = bit * F.lit(2 ** (k * len(zorder_by) + i))
                z = term if z is None else z + term
        return (df.withColumn("__z", z.cast("bigint"))
                .repartitionByRange(n_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z", *[f"__q_{i}" for i in range(len(zorder_by))]))

    return rw


def _binpack_select(table: str, hit_rel: list[str],
                    options: dict) -> tuple[list[str], int] | None:
    """Bin-pack candidate selection per the reference's OPTIMIZE
    options (`parserImpls.ftl` ParseOptimizeOptions,
    OptimizeHandler.java): files smaller than MIN_FILE_SIZE_MB or
    larger than MAX_FILE_SIZE_MB qualify; fewer than MIN_INPUT_FILES
    qualifying files → no-op (None).  Returns (candidates, n_output)
    with n_output sized so rewritten files land near
    TARGET_FILE_SIZE_MB.  Sizes come from the snapshot's file listing
    (driver-side getsize — file-count bounded, the same metadata the
    commit already walks)."""
    tgt_mb = float(options.get("target_file_size_mb", 256))
    mn = float(options.get("min_file_size_mb", 0.75 * tgt_mb)) * 2**20
    mx = float(options.get("max_file_size_mb", 1.8 * tgt_mb)) * 2**20
    min_in = int(options.get("min_input_files", 5))
    sizes = {rel: os.path.getsize(os.path.join(table, rel))
             for rel in hit_rel}
    cand = [rel for rel in hit_rel
            if sizes[rel] < mn or sizes[rel] > mx]
    if len(cand) < max(1, min_in):
        return None
    n_out = max(1, math.ceil(sum(sizes[r] for r in cand)
                             / (tgt_mb * 2**20)))
    return cand, n_out


def layout(properties: dict,
           zorder_by: list[str] | None) -> tuple[str, list[str]]:
    """The OPTIMIZE rewrite layout, `(kind, columns)`: an explicit
    ZORDER BY, else the declared clustering key (ALTER TABLE CLUSTER BY,
    SqlAlterTableClusterKey), else the declared LOCALSORT
    (SqlAlterTableSortOrder), else bin-pack."""
    if zorder_by:
        return "zorder", list(zorder_by)
    for kind, key in (("zorder", "dremio.cluster_by"),
                      ("localsort", "dremio.localsort")):
        cols = [c.strip() for c in (properties.get(key) or "").split(",")
                if c.strip()]
        if cols:
            return kind, cols
    return "binpack", []


def optimize(codec: Codec, spark: SparkSession, table: str,
             where: str | None = None,
             zorder_by: list[str] | None = None,
             options: dict | None = None,
             parent_snapshot: int | None = None,
             zorder_files: int = 8) -> int:
    """OPTIMIZE TABLE [REWRITE DATA USING BIN_PACK] [FOR PARTITIONS
    <pred>] [ZORDER BY cols] [(options)]: rewrite live files into fewer
    ones holding the same rows (Delta commits them dataChange=false,
    Iceberg as a `replace` snapshot), with deletes folded in.

    - `where`: only files holding a matching row rewrite — the 100 TB
      pattern compacts hot partitions without touching cold history.
    - `options` (MIN_INPUT_FILES / TARGET_FILE_SIZE_MB /
      MIN_FILE_SIZE_MB / MAX_FILE_SIZE_MB, ParseOptimizeOptions): only
      out-of-band-sized files rewrite, into outputs near the target
      size; fewer than MIN_INPUT_FILES qualifying files is a
      commit-free no-op.
    - layout (`layout`): a Z-curve over the z-order columns into
      `zorder_files` files, so min/max skipping serves every column; a
      range split + sort on the LOCALSORT keys, so the rewritten files
      cover disjoint key ranges; else a plain bin-pack.
    - `parent_snapshot`: compact a versioned catalog's branch snapshot
      and commit detached (`OptimizeHandler.java:129`).

    Reference: dremio-oss OPTIMIZE TABLE (`parserImpls.ftl` OPTIMIZE,
    `OptimizeHandler.java`); the Z-curve follows the public Delta
    OPTIMIZE ZORDER design."""
    snap = codec.resolve(spark, table, parent_snapshot)
    if where is None:
        hits = [rel for rel, _ in codec.files(table, snap)]
    else:
        hits = hit_files(codec, table, snap, codec.live(
            spark, table, snap, True).where(where))
    n_out = None
    if options:
        got = _binpack_select(table, hits, options)
        if got is None:
            return snap.version
        hits, n_out = got
    kind, cols = layout(codec.properties(snap), zorder_by)
    if kind == "zorder":
        rewrite = _zorder_rewrite(cols, zorder_files)
    elif kind == "localsort":
        # without size options, one file per range slice, bounded by
        # the session shuffle width (AQE keeps an explicit range count)
        n = n_out or max(1, min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            len(hits)))
        rewrite = lambda files: (files.repartitionByRange(  # noqa: E731
            n, *cols).sortWithinPartitions(*cols))
    else:
        rewrite = lambda files: (  # noqa: E731
            files.repartition(n_out) if n_out else files)
    return codec.rewrite(spark, table, snap, codec.ops["optimize"], hits,
                         rewrite, None, None)


def truncate(codec: Codec, spark: SparkSession, table: str) -> int:
    """TRUNCATE TABLE (SqlTruncateTable, `TruncateTableHandler.java`):
    one commit removing every live file and staging nothing — no scan,
    no rewrite; earlier versions stay time-travelable until VACUUM.  A
    table whose commits carry change rows deletes through the scan
    instead, so the feed records every removed row."""
    snap = codec.resolve(spark, table, None)
    if codec.cdf(snap):
        return delete(codec, spark, table, "true", COW)
    return codec.rewrite(spark, table, snap, codec.ops["truncate"],
                         [rel for rel, _ in codec.files(table, snap)],
                         None, None, None)


def rollback(codec: Codec, spark: SparkSession, table: str,
             version: int) -> int:
    """ROLLBACK TABLE ... TO SNAPSHOT (`parserImpls.ftl:1211`,
    `SqlRollbackTable`): one new commit whose files, delete marks and
    schema are exactly `version`'s.  History is kept (the roll-forward
    is itself a commit) and no data file is copied.  The commit claims
    the version after the current one, so a commit landing meanwhile
    raises `ConcurrentWriteError` instead of being overwritten."""
    current = codec.at(spark, table, None)
    return codec.restore(spark, table, current,
                         codec.at(spark, table, version))


def _retained(versions: list[tuple[int, int]], keep_last: int = 1,
             older_than_ms: int | None = None, pins=(),
             keep_ids=None) -> set[int]:
    """The retention rule over `(version, timestamp_ms)` pairs: the
    `keep_last` newest (at least one) or, when given, exactly
    `keep_ids` (a versioned catalog's referenced snapshots); plus every
    version committed at or after `older_than_ms`; plus every version a
    ref pins."""
    ids = [v for v, _ in versions]
    keep = (set(ids[-max(1, keep_last):]) if keep_ids is None
            else set(keep_ids) & set(ids))
    if older_than_ms is not None:
        keep |= {v for v, ts in versions if ts >= older_than_ms}
    return keep | (set(pins) & set(ids))


def _sweep(codec: Codec, spark: SparkSession, table: str, versions,
          older_than_ms: int | None = None) -> list[str]:
    """Delete every data or delete-mark file under `table` that none of
    `versions` references, except files modified at or after
    `older_than_ms` (an in-flight commit may have written them without
    referencing them yet).  The log directories are never entered.
    Returns the deleted table-relative paths."""
    referenced: set[str] = set()
    for v in versions:
        referenced |= codec.referenced(spark, table, v)
    removed: list[str] = []
    for root, dirs, files in os.walk(table):
        if root == table:
            dirs[:] = [d for d in dirs if d not in codec.log_dirs]
        for fn in files:
            p = os.path.join(root, fn)
            if (fn.endswith((".parquet", ".bin"))
                    and os.path.realpath(p) not in referenced
                    and (older_than_ms is None
                         or os.path.getmtime(p) * 1000 < older_than_ms)):
                os.remove(p)
                removed.append(os.path.relpath(p, table))
    return sorted(removed)


def vacuum(codec: Codec, spark: SparkSession, table: str,
           keep_last: int = 1, older_than_ms: int | None = None,
           keep_ids=None) -> list[str]:
    """VACUUM TABLE [EXPIRE SNAPSHOTS] [older_than = 'ts'] [retain_last
    = n] (`VacuumTableHandler.java`, parserImpls.ftl:1264): expire the
    versions the retention rule (`_retained`) drops, then delete the
    files only they referenced.  Time travel to a retained version
    keeps working.  Returns the deleted table-relative paths."""
    keep = _retained(codec.versions(spark, table), keep_last,
                    older_than_ms, codec.pins(table), keep_ids)
    codec.expire(table, keep)
    return _sweep(codec, spark, table, keep)


def remove_orphan_files(codec: Codec, spark: SparkSession, table: str,
                        older_than_ms: int | None = None) -> list[str]:
    """VACUUM TABLE ... REMOVE ORPHAN FILES [older_than = 'ts']: delete
    files no version references at all (aborted writes, a lost commit
    race, leftover staging); history stays intact.  `older_than`
    protects files an in-flight commit wrote but has not referenced
    yet (VacuumTableRemoveOrphanFilesOptions)."""
    return _sweep(codec, spark, table,
                 [v for v, _ in codec.versions(spark, table)],
                 older_than_ms)
