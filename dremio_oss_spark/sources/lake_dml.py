"""Row-level DML over the lake formats: DELETE, UPDATE and MERGE, each
written once, in both copy-on-write and merge-on-read.

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
  (realpath of its data file) and `__pos` (row index in that file).
- `rewrite(spark, table, snapshot, operation, hit_files, rewrite,
  inserts, changes)` -> version: stage `rewrite(<live rows of
  hit_files>)` and `inserts` as new files; commit them with the
  removal of `hit_files` (table-relative paths).
- `mark(spark, table, snapshot, operation, marked, post, changes)` ->
  version: encode `marked`'s `(__file, __pos)` as delete marks (Delta
  deletion vectors, Iceberg position-delete files), stage `post` as
  new files, commit.
- `cdf(snapshot)` -> whether commits carry `changes`: change rows with
  the table's columns plus `_change_type` (Delta's change data feed).
- `ops` -> the commit operation name of each verb.

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

import os
import re
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

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


def codec(fmt: str) -> Codec:
    """The codec of a lake format name, "delta" or "iceberg"."""
    from . import delta, iceberg

    return {"delta": delta.DML, "iceberg": iceberg.DML}[fmt]


def _src_expr(expr: str, alias: str = "s") -> str:
    """Rewrite `<alias>.`-qualified source references in a MERGE SET
    expression to the joined plan's `__s_` names.  Word-boundary
    anchored so a column whose name merely ends in the alias followed by
    a dotted reference (`prices.amount` under alias `s`) is left alone —
    a plain substring replace corrupted it to `price__s_amount`."""
    return re.sub(rf"\b{re.escape(alias)}\.", "__s_", expr)


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


def hit_files(table: str, rows: DataFrame) -> list[str]:
    """Table-relative data files behind `rows`' `__file` values.  The
    collect is bounded by file count (metadata-sized), never by row
    count; only these files are rewritten (file-level skipping, the
    same pruning `DeltaLakeScanPrel` relies on)."""
    root = os.path.realpath(table)
    return sorted(os.path.relpath(r[0], root)
                  for r in rows.select("__file").distinct().collect())


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
        hits = hit_files(table, matched if hit_rows is None else hit_rows)
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
        live_keys = codec.live(spark, table, snap, False).select(
            *on).distinct()
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
                  hit_rows=live.join(source.select(*on).distinct(), on,
                                     "left_semi"))
