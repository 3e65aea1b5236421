"""Reflections: materialized aggregates with automatic plan substitution.

Reference: dremio-oss
- definition + lifecycle: `services/accelerator/.../reflection/
  ReflectionServiceImpl.java` (`ALTER ... CREATE AGGREGATION REFLECTION`).
- plan substitution: `sabot/kernel/.../planner/acceleration/substitution/
  SubstitutionProvider.java:40` — Calcite materialized-view matching that
  swaps a query subtree for a rollup over the materialization.
- incremental refresh: `services/accelerator/.../IncrementalUpdateServiceUtils.java:46`
  (append-based: only rows past the last refresh watermark are re-aggregated).

Spark-first design: rather than patching Catalyst internals from Python,
matching happens one level up on a tiny declarative IR (`AggQuery`): the
engine's aggregate entry point consults the `ReflectionStore` before
building the DataFrame plan.  A match means the scan target switches from
the 100 TB base table to the few-MB materialization and the aggregation
becomes a rollup (SUM of partial SUMs, SUM of partial COUNTs, MIN of
MINs, ...).  This is the reference's aggregate-rollup match, including
the star-join case of join-tree matching (JoinSpec below): a reflection
materialized over fact ⋈ dims answers any query over a sub-star of the
same tree.  Snowflake (dim-to-dim) edges and view-tree matching remain
out of scope.

Scale: the materialization is partitioned parquet keyed by the
reflection's leading dimension; refresh is a distributed groupBy; the
incremental path aggregates only new rows (watermark on a monotonic
column) and merges partials by re-rolling sums/counts/mins/maxes —
associative measures only, which is why AVG is stored as SUM+COUNT.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .statistics import file_splits, local_files, one_split

# Partial-merge per measure kind: how two materialized cells of the
# same (coarser) group combine.  "ndv" partials are DataSketches HLL
# binaries (F.hll_sketch_agg) and merge by sketch union — the ESTIMATE
# is only taken at query time (substitution), exactly the reference's
# NDV reflections (HyperLogLog.java:28 NDV_FUNCTION; measure type
# APPROX_COUNT_DISTINCT, SqlCreateReflection.java:316).
_ROLLUP = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max,
           "ndv": F.hll_union_agg}


def _roll_partial(m, grand_total: bool):
    """Re-roll measure `m`'s stored partial at the query grain.  A
    grand total over no cells (an empty materialization) counts 0, not
    NULL, like the base plan; grouped answers have no empty group."""
    if m.kind == "count" and grand_total:
        return F.expr(f"coalesce(sum(`{m.name}`), 0)").alias(m.name)
    return _ROLLUP[m.kind](F.col(m.name)).alias(m.name)


# DataSketches HLL accepts int/bigint/string/binary inputs only; any
# other dtype casts to string first — an injective cast, so the distinct
# set (hence the sketch) is unchanged.
_HLL_NATIVE = {"int", "bigint", "string", "binary"}


def _hll_input(col: F.Column, dtype: str | None) -> F.Column:
    return col if dtype in _HLL_NATIVE else col.cast("string")

# Whitelisted dim-expression function names (substitution.py _dim_key).
# Only an APPLICATION (`year(...)`) is a function; the bare name may be a
# real column (a table can legitimately have a column named year/length).
_DIM_FN_CALL_RE = re.compile(
    r"\b(?:year|month|quarter|trunc|date_trunc|upper|lower|trim|length"
    r"|abs|floor|ceil|substring)\s*\(", re.IGNORECASE)


@dataclass(frozen=True)
class Measure:
    """One declared measure: kind in {sum,count,min,max,ndv}, over a
    column.  "ndv" is the reference's APPROXIMATE COUNT DISTINCT
    measure (grammar alter.ftl:528, MeasureType.APPROX_COUNT_DISTINCT,
    SqlCreateReflection.java:316): materialized as a mergeable HLL
    sketch, estimated only at query time.

    COUNT comes in two distinct shapes — `count(*)` (col == "*", rows per
    group) and null-aware `count(col)` (non-null values per group).  They
    materialize under different names (`count_all` vs `count_<col>`) and
    are matched separately: conflating them silently returned count(*)
    for `count(nullable_col)` — wrong whenever the column has NULLs."""

    kind: str
    col: str  # "*" for count(*); may be a CANONICAL arithmetic
    # expression (see substitution._canon_arith), e.g. the TPC-H
    # revenue "(l_extendedprice * (1 - l_discount))"

    @property
    def is_expr(self) -> bool:
        # identifier-shaped or "*" only — a literal-only canonical like
        # "1" must take the F.expr path, not F.col("1")
        return not re.fullmatch(r"[A-Za-z_]\w*|\*", self.col)

    @property
    def _tag(self) -> str:
        if self.is_expr:
            import hashlib

            return "e" + hashlib.md5(self.col.encode()).hexdigest()[:8]
        return self.col

    @property
    def name(self) -> str:
        if self.kind == "count":
            return "count_all" if self.col == "*" else f"count_{self._tag}"
        return f"{self.kind}_{self._tag}"

    @property
    def column(self):
        """The measure input as a Spark Column (F.expr for expression
        measures — the canonical form is valid SQL)."""
        return F.expr(self.col) if self.is_expr else F.col(self.col)


@dataclass(frozen=True)
class JoinSpec:
    """One star edge: fact.fact_key == dim_table.dim_key (N:1 FK join).

    Mirrors the simplest join case of the reference's view substitution
    (planner/acceleration/substitution/SubstitutionProvider.java:40 —
    Calcite matches a query join subtree against the materialized one).
    Soundness assumption, as in star-schema FK matching: the dim key is
    unique and every fact key matches (N:1 lossless), so extra dim edges
    in the reflection never change fact-row multiplicity.

    join_type "left" declares a LEFT OUTER star edge (fact rows with no
    dim match survive, dim columns null-extended) — the outer-join
    materialization case of the reference's substitution
    (SubstitutionProvider.java:40 with the outer-join normalization of
    PlannerPhase.java:145-169).  The join type participates in edge
    equality, so an inner query edge never matches a left reflection
    edge or vice versa."""

    dim_table: str
    fact_key: str
    dim_key: str
    join_type: str = "inner"


# temporal grain ordering for dimension granularity (alter.ftl:441-472
# IdentifierWithGranularity / ReflectionExpander.java:194-210): a BY DAY
# dimension stores cast(ts as date), so only day-or-coarser expressions
# over it can substitute.  Ranks cover date_trunc/trunc format aliases.
_GRAIN_RANK = {
    "raw": 0, "second": 1, "minute": 2, "hour": 3,
    "day": 4, "dd": 4, "week": 5,
    "month": 6, "mon": 6, "mm": 6, "quarter": 7,
    "year": 8, "yy": 8, "yyyy": 8,
}


def grain_at_least(need: str, have: str) -> bool:
    """True when a query needing `need` grain can answer from a
    materialization stored at `have` grain (coarser-or-equal)."""
    return _GRAIN_RANK.get(need, 0) >= _GRAIN_RANK.get(have, 0)


@dataclass(frozen=True)
class AggQuery:
    """Declarative aggregate query: the IR substitution matches on."""

    table: str
    dims: tuple[str, ...]
    measures: tuple[Measure, ...]
    filters: tuple[str, ...] = ()  # SQL predicates over dims only
    joins: tuple[JoinSpec, ...] = ()  # star edges off the fact table
    # finest TEMPORAL grain the query needs per dim column, as sorted
    # (col, grain) pairs — "raw" when the column itself is grouped,
    # "day"/"month"/... when only f(col) at that grain appears.  Callers
    # that don't analyze grain (API-built queries) leave it empty,
    # which covers() reads as raw — sound against BY DAY reflections.
    dim_grain: tuple = ()


# -- filter subsumption (partial reflections) ------------------------------
# A reflection built over `WHERE <pred>` may only answer queries whose own
# filter IMPLIES that predicate (query rows ⊆ materialized rows).  The
# reference's substitution handles this through Calcite's
# SubstitutionVisitor filter-split (planner/acceleration/substitution/
# SubstitutionProvider.java); here implication is decided structurally for
# the conjunctive range/equality/IN fragment, and anything unparseable
# soundly refuses to match.
_PRED_RX = re.compile(
    r"^\s*([A-Za-z_]\w*)\s*(>=|<=|<>|!=|=|<|>|\bin\b)\s*(.+?)\s*$",
    re.IGNORECASE,
)


def _parse_value(tok: str):
    tok = tok.strip()
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1]
    try:
        return int(tok)
    except ValueError:
        try:
            return float(tok)
        except ValueError:
            return None


def parse_pred(s: str):
    """'col op literal' | 'col in (v, ...)' -> (col, op, (values,)).
    Returns None for anything outside the fragment (sound: no match)."""
    m = _PRED_RX.match(s)
    if not m:
        return None
    col, op, rhs = m.group(1), m.group(2).lower(), m.group(3)
    if op == "in":
        rhs = rhs.strip()
        if not (rhs.startswith("(") and rhs.endswith(")")):
            return None
        vals = tuple(_parse_value(v) for v in rhs[1:-1].split(","))
    elif op in ("<>", "!="):
        return None  # exclusion predicates don't participate
    else:
        vals = (_parse_value(rhs),)
    if any(v is None for v in vals):
        return None
    if len({type(v) is str for v in vals}) > 1:
        return None
    return (col, op, vals)


def _cmp_ok(a, b) -> bool:
    """Values comparable: both numeric or both strings (ISO dates sort)."""
    return (isinstance(a, str) and isinstance(b, str)) or (
        not isinstance(a, str) and not isinstance(b, str)
    )


def pred_implies(a, b) -> bool:
    """Does predicate a (query) imply predicate b (reflection)?"""
    ca, oa, va = a
    cb, ob, vb = b
    if ca != cb:
        return False
    if not all(_cmp_ok(x, y) for x in va for y in vb):
        return False
    if ob == ">=":
        lo = vb[0]
        if oa in (">=", ">"):
            return va[0] >= lo
        if oa == "=":
            return va[0] >= lo
        if oa == "in":
            return all(v >= lo for v in va)
    elif ob == ">":
        lo = vb[0]
        if oa == ">":
            return va[0] >= lo
        if oa == ">=":
            return va[0] > lo
        if oa == "=":
            return va[0] > lo
        if oa == "in":
            return all(v > lo for v in va)
    elif ob == "<=":
        hi = vb[0]
        if oa in ("<=", "<"):
            return va[0] <= hi
        if oa == "=":
            return va[0] <= hi
        if oa == "in":
            return all(v <= hi for v in va)
    elif ob == "<":
        hi = vb[0]
        if oa == "<":
            return va[0] <= hi
        if oa == "<=":
            return va[0] < hi
        if oa == "=":
            return va[0] < hi
        if oa == "in":
            return all(v < hi for v in va)
    elif ob == "=":
        if oa == "=":
            return va[0] == vb[0]
        if oa == "in":
            return set(va) == {vb[0]}
    elif ob == "in":
        allowed = set(vb)
        if oa == "=":
            return va[0] in allowed
        if oa == "in":
            return set(va) <= allowed
    return False


def unsignable_reason(measures) -> str | None:
    """Why a signed change fold cannot maintain `measures` (None: it
    can): every measure must be signable, and a COUNT(*) must detect
    groups whose rows were all deleted (COUNT(col) can be 0 while rows
    remain)."""
    if {m.kind for m in measures} & {"min", "max", "ndv"}:
        return ("min/max/ndv measures cannot be maintained under deletes "
                "(an HLL sketch has no subtraction)")
    if not any(m.kind == "count" and m.col == "*" for m in measures):
        return ("no COUNT(*) measure to detect groups whose rows were "
                "all deleted")
    return None


@dataclass
class Reflection:
    name: str
    table: str
    dims: tuple[str, ...]
    measures: tuple[Measure, ...]
    path: str
    watermark_col: str | None = None
    watermark: object = None
    joins: tuple[JoinSpec, ...] = ()
    filters: tuple[str, ...] = ()  # partial reflection: built over WHERE
    # materialization layout (SqlCreateReflection PARTITION BY /
    # LOCALSORT BY fields): partition dims write hive dirs keyed by a
    # __p_<dim> copy (the copy keeps the real column in the data files,
    # so reads never depend on partition-column type inference);
    # sort dims range-partition + sort for min/max row-group pruning
    partition_by: tuple[str, ...] = ()
    sort_by: tuple[str, ...] = ()
    # lakehouse snapshot/version the materialization is current through
    # (snapshot-based incremental refresh)
    base_version: object = None
    # materialization GENERATION: each refresh publishes a new data dir
    # (data / data-g1 / data-g2 ...) and retires the PREVIOUS-previous
    # one, so an in-flight reader of an already-analyzed plan never
    # loses its files mid-scan (the reference's per-refresh
    # materialization ids, ReflectionServiceImpl)
    generation: int = 0
    # set when a base-table commit lands (ReflectionServiceImpl's
    # dependency-driven refresh): the engine refreshes stale reflections
    # before the next substitution (auto-refresh) or surfaces STALE in
    # sys.reflections when auto-refresh is off
    stale: bool = False
    # quarantined after a FAILED refresh (base gone, column dropped,
    # ...): an invalid reflection never matches, so queries plan
    # normally and surface the real error instead of stale data
    invalid: bool = False
    # epoch ms of the last successful materialization build — drives the
    # dataset-level refresh/grace policy (the reference's
    # AccelerationSettings refreshPeriod/gracePeriod consumed by
    # DependencyManager: due when older than the refresh period, never
    # served once older than the grace period)
    last_refresh_ms: int = 0
    # how the last refresh ran ("incremental" or "full"); for a full
    # rebuild, why no incremental fold ran; and how many incremental
    # attempts raised and fell back to a rebuild (sys.reflections)
    refresh_mode: str | None = None
    refresh_reason: str | None = None
    refresh_errors: int = 0
    # bare column name -> owning table across the reflection's star
    # (None value = the name exists in 2+ star tables, i.e. ambiguous).
    # Plan-tree substitution matches QUALIFIED columns against this map:
    # a query column that name-collides with a same-named column from a
    # different star table must refuse, or the rollup silently
    # aggregates the wrong column.  dict-None (legacy/API reflections)
    # keeps the caller-responsible bare-name behavior.
    col_owner: dict | None = None
    # dim column -> temporal granularity ("day"): the materialization
    # stores cast(col as date) under the same name (BY DAY sugar,
    # grammar alter.ftl:441-472; the reference defaults TIMESTAMP dims
    # to DATE, ReflectionExpander.java:194-210).  Queries needing finer
    # grain on that column refuse in covers().
    granularity: dict | None = None

    def covers(self, q: AggQuery) -> bool:
        if self.invalid or q.table != self.table:
            return False
        # dimension granularity: a BY DAY dim lost sub-day values, so
        # any finer-grain use of it refuses — raw grouping, measures
        # over it, or any filter mentioning it (filter literals may
        # carry sub-day precision)
        if self.granularity:
            grain_map = dict(q.dim_grain)
            for col, stored in self.granularity.items():
                if any(re.search(rf"\b{re.escape(col)}\b", f)
                       for f in q.filters):
                    return False
                if any(m.col == col
                       or (m.is_expr
                           and re.search(rf"\b{re.escape(col)}\b",
                                         m.col))
                       for m in q.measures):
                    return False
                if col in q.dims and not grain_at_least(
                        grain_map.get(col, "raw"), stored):
                    return False
        # partial reflection: every materialization predicate must be
        # implied by some query predicate, else the reflection is missing
        # rows the query needs
        if self.filters:
            r_preds = [parse_pred(f) for f in self.filters]
            q_preds = [p for p in (parse_pred(f) for f in q.filters) if p]
            if any(rp is None for rp in r_preds):
                return False
            if not all(
                any(pred_implies(qp, rp) for qp in q_preds)
                for rp in r_preds
            ):
                return False
        # join-tree matching (star case): every join edge the query needs
        # must be materialized; extra INNER/LEFT reflection edges are
        # harmless under the N:1 FK assumption (see JoinSpec).  A FULL
        # outer edge is NOT: it adds dim-only null-extended rows that
        # inflate count(*)/sums for any query that did not ask for that
        # edge, so full edges must match exactly on both sides.
        if not set(q.joins) <= set(self.joins):
            return False
        q_joins = set(q.joins)
        if any(
            js.join_type == "full" and js not in q_joins
            for js in self.joins
        ):
            return False
        if not set(q.dims) <= set(self.dims):
            return False
        if not set(q.measures) <= set(self.measures):
            # Measures computable at the DIM GRAIN even without a
            # declared partial (the reference's normalization matches
            # aggregates over dimension columns the same way):
            # - NDV over a stored dim: an HLL estimate depends only on
            #   the distinct value SET, and the rollup cells carry
            #   exactly the distinct dim values of each query group —
            #   bit-identical to the base plan
            # - MIN/MAX over a stored dim: min over distinct values
            #   equals min over rows (multiplicity-blind, null cells
            #   skipped by min/max on both sides) — EXACT, any dtype
            # - COUNT(dim): the dim is constant within a cell, so
            #   count(dim) = sum of count(*) over non-null-dim cells —
            #   needs the count(*) partial (always declared since
            #   reflections carry an implicit count(*))
            has_count_all = Measure("count", "*") in self.measures
            missing = set(q.measures) - set(self.measures)
            for m in missing:
                if m.col not in self.dims:
                    return False
                if m.kind in ("ndv", "min", "max"):
                    continue
                if m.kind == "count" and has_count_all:
                    continue
                return False
        # filters must reference reflection dims only (pushable post-rollup):
        # any column-looking identifier that is NOT a dim, a measure output,
        # a SQL keyword, or a quoted literal disqualifies the match
        keywords = {
            "and", "or", "not", "in", "is", "null", "true", "false",
            "between", "like", "cast", "as", "case", "when", "then",
            "else", "end", "date", "timestamp", "interval",
        }
        allowed = set(self.dims) | {m.name for m in self.measures} | keywords
        for f in q.filters:
            stripped = re.sub(r"'[^']*'", "", f)
            # whitelisted dim-expression functions (substitution.py
            # _dim_key) are identifiers only when APPLIED — `year(d)`
            # strips to `(d`; a bare `year` is a column reference (a
            # real column may be named year/length/...) and must be a
            # dim like any other
            stripped = re.sub(_DIM_FN_CALL_RE, "(", stripped)
            idents = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", stripped))
            idents = {i for i in idents if not i.isdigit()}
            if not all(i.lower() in allowed or i in allowed for i in idents):
                return False
        return True


def _schema_fp(df: DataFrame) -> str:
    """Order-insensitive (name, dtype) fingerprint of a DataFrame's row
    type — the analog of the reference's computeDatasetHash
    (ReflectionServiceImpl.java:612), used to validate an external
    reflection's target at creation and to detect OUT_OF_SYNC later."""
    return ",".join(sorted(f"{n.lower()}:{t}" for n, t in df.dtypes))


@dataclass
class ExternalReflection:
    """User-maintained materialization mapping: queries over `table`
    may answer from `target` (reference `ExternalReflection` proto +
    `ReflectionServiceImpl.createExternalReflection:586`; DDL
    alter.ftl:611).  No engine-managed refresh — freshness is the
    user's contract; the stored fingerprints gate use (OUT_OF_SYNC
    when either side's row type drifts, ExternalReflectionStatus)."""

    name: str
    table: str       # dataset name as referenced in queries
    target: str      # target dataset holding the same rows
    dataset_fp: str  # _schema_fp of the dataset at creation
    target_fp: str   # _schema_fp of the target at creation
    invalid: bool = False  # OUT_OF_SYNC: definition drifted


@dataclass
class RawReflection:
    name: str
    table: str
    cols: tuple[str, ...]
    path: str
    sort_col: str | None = None  # LOCALSORT layout, kept for rebuilds
    # append-based incremental refresh watermark (REFRESH BY APPEND):
    # rows past max(watermark_col) append to the current generation
    watermark_col: str | None = None
    stale: bool = False
    invalid: bool = False  # quarantined after a failed refresh
    generation: int = 0    # see Reflection.generation
    last_refresh_ms: int = 0  # see Reflection.last_refresh_ms
    refresh_mode: str | None = None    # see Reflection.refresh_mode
    refresh_reason: str | None = None  # see Reflection.refresh_reason
    refresh_errors: int = 0            # see Reflection.refresh_errors


class ReflectionStore:
    """Registry + refresh + substitution for agg + raw reflections."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._reflections: dict[str, Reflection] = {}
        self._raw: dict[str, RawReflection] = {}
        self._external: dict[str, ExternalReflection] = {}
        # bumped on every mutation (create/rebuild/refresh/drop/
        # compact): the engine's plan cache keys on it so a cached plan
        # never outlives the materialization generation it scans — the
        # reference's PlanCacheSynchronizer contract
        self.mutations = 0
        # materialization dir -> (max entry mtime, DataFrame handle,
        # one-split decision or None); see _read_raw
        self._read_data_memo: dict[str, tuple] = {}
        # dataset -> {"refresh_s": n|None, "grace_s": m|None} — the
        # reference's per-dataset AccelerationSettings
        # (refreshPeriod/gracePeriod; DependencyManager consumes them
        # to schedule refreshes and expire materializations)
        self.refresh_policies: dict[str, dict] = {}

    # -- DDL ---------------------------------------------------------------
    def _bump(self) -> None:
        self.mutations += 1  # plan-cache sync (PlanCacheSynchronizer)

    # -- refresh policy (AccelerationSettings / DependencyManager) ----------
    @staticmethod
    def _now_ms() -> int:
        import time

        return int(time.time() * 1000)

    def _stamp(self, refl) -> None:
        refl.last_refresh_ms = self._now_ms()

    def set_refresh_policy(self, dataset: str,
                           refresh_s: float | None,
                           grace_s: float | None) -> None:
        """ALTER DATASET ... SET ACCELERATION REFRESH EVERY n [EXPIRE
        AFTER m]: dataset-level policy applied to every reflection on
        that dataset (reference AccelerationSettings)."""
        # keyed LOWERED: Spark identifiers are case-insensitive, and
        # the REST settings surface + DDL must hit one entry
        self.refresh_policies[dataset.lower()] = {
            "refresh_s": refresh_s, "grace_s": grace_s}
        self._bump()  # policy flips change what substitutes

    def is_due(self, refl) -> bool:
        """Needs a refresh: commit-driven staleness OR older than the
        dataset's refresh period (DependencyManager.shouldRefresh)."""
        if getattr(refl, "stale", False):
            return True
        pol = self.refresh_policies.get(refl.table.lower())
        if not pol or pol["refresh_s"] is None:
            return False
        return (self._now_ms() - refl.last_refresh_ms
                > pol["refresh_s"] * 1000)

    def expired_fingerprint(self) -> frozenset | None:
        """Names of currently-EXPIRED reflections, or None when no
        dataset declares a grace period.  Keys the engine's plan cache:
        expiry flips with TIME, not with a store mutation, so a cached
        substituted plan must invalidate the moment its reflection
        crosses the grace boundary (and vice versa after a refresh)."""
        if not any(p.get("grace_s") is not None
                   for p in self.refresh_policies.values()):
            return None
        return frozenset(
            r.name for r in list(self._reflections.values())
            + list(self._raw.values()) if self.is_expired(r))

    def is_expired(self, refl) -> bool:
        """Past the grace period: the materialization must never be
        served again until refreshed (the reference expires
        materializations after gracePeriod — an expired reflection
        plans from base, never from stale data)."""
        pol = self.refresh_policies.get(refl.table.lower())
        if not pol or pol["grace_s"] is None:
            return False
        return (self._now_ms() - refl.last_refresh_ms
                > pol["grace_s"] * 1000)

    def create_aggregation_reflection(
        self,
        name: str,
        source: DataFrame,
        table: str,
        dims: list[str],
        measures: list[Measure],
        watermark_col: str | None = None,
        joins: list[JoinSpec] | None = None,
        dim_sources: dict[str, DataFrame] | None = None,
        filters: list[str] | None = None,
        partition_by: list[str] | None = None,
        sort_by: list[str] | None = None,
        granularity: dict | None = None,
    ) -> Reflection:
        """ALTER TABLE ... CREATE AGGREGATION REFLECTION equivalent.

        With `joins`, the materialization is built over the star join of
        `source` (the fact) with each broadcast dim — dims/measures may
        then reference dim-table columns.  With `filters`, the
        materialization is PARTIAL (built over WHERE ∧filters) and only
        substitutes for queries whose filter implies it (see covers)."""
        self._bump()
        path = os.path.join(self.root, name)
        self._forget(path)
        # every aggregation reflection maintains a ROW-COUNT partial:
        # count(*) rollups are the most common BI query and the partial
        # is one bigint per cell (the reference's aggregation
        # reflections likewise always carry a count measure so AVG and
        # COUNT(*) answer from any of them)
        if not any(m.kind == "count" and m.col == "*" for m in measures):
            measures = list(measures) + [Measure("count", "*")]
        # bare-name -> owning-table map over the star (collision -> None)
        owner: dict[str, str | None] = {c: table for c in source.columns}
        for js in (joins or ()):
            for c in dim_sources[js.dim_table].columns:
                owner[c] = None if c in owner else js.dim_table
        refl = Reflection(
            name, table, tuple(dims), tuple(measures), path, watermark_col,
            joins=tuple(joins or ()), filters=tuple(filters or ()),
            partition_by=tuple(partition_by or ()),
            sort_by=tuple(sort_by or ()),
            col_owner=owner,
            granularity=dict(granularity) if granularity else None,
        )
        src = self._join_star(source, refl.joins, dim_sources)
        for f in refl.filters:
            src = src.where(f)
        self._full_refresh(refl, src)
        self._reflections[name] = refl
        return refl

    @staticmethod
    def _join_star(
        fact: DataFrame,
        joins: tuple[JoinSpec, ...],
        dim_sources: dict[str, DataFrame] | None,
    ) -> DataFrame:
        """Fact ⋈ broadcast(dim) per star edge — dims are small by
        definition of the star reflection, so every edge is a broadcast
        hash join (no shuffle of the 100 TB fact side)."""
        df = fact
        for js in joins:
            dim = dim_sources[js.dim_table]
            # Spark cannot broadcast a FULL outer build side (both
            # sides null-extend); those edges shuffle, every other
            # edge broadcasts the dim
            if js.join_type != "full":
                dim = F.broadcast(dim)
            df = df.join(dim, F.col(js.fact_key) == F.col(js.dim_key),
                         js.join_type)
        return df

    def create_raw_reflection(
        self,
        name: str,
        source: DataFrame,
        table: str,
        display_cols: list[str],
        sort_col: str | None = None,
        watermark_col: str | None = None,
    ) -> "RawReflection":
        """ALTER TABLE ... CREATE RAW REFLECTION: a column-projected
        (optionally sorted) copy.  Accelerates scans needing only
        `display_cols` — narrower files + sorted layout gives min/max
        row-group pruning on the sort column (the reference's raw
        reflection role, ReflectionServiceImpl.java)."""
        self._bump()
        path = os.path.join(self.root, name)
        self._forget(path)
        proj = source.select(*display_cols)
        if sort_col:
            proj = proj.sortWithinPartitions(sort_col)
        self._write_plain(proj, os.path.join(path, "data"))
        refl = RawReflection(name, table, tuple(display_cols), path,
                             sort_col=sort_col,
                             watermark_col=watermark_col)
        self._stamp(refl)
        self._raw[name] = refl
        return refl

    def incremental_refresh_raw(self, name: str,
                                source: DataFrame) -> int:
        """Append-based incremental refresh for a RAW reflection
        (the reference's append-only incremental,
        IncrementalUpdateServiceUtils.java:46): rows past the stored
        high-watermark append as NEW files into the current generation
        — existing files are immutable, in-flight readers keep their
        planned file list, and the refresh cost is O(new rows), never
        a rescan.  Requires a declared watermark_col and an append-only
        base (the same contract as the agg incremental path)."""
        rr = self._raw[name]
        if not rr.watermark_col:
            raise ValueError(
                f"raw reflection {name!r} has no watermark column; "
                "use rebuild()")
        cur = self._read_data(self._data_dir(rr))
        hw = cur.agg(F.max(rr.watermark_col)).collect()[0][0]
        new = source.select(*rr.cols)
        if hw is not None:
            new = new.where(F.col(rr.watermark_col) > F.lit(hw))
        if rr.sort_col:
            new = new.sortWithinPartitions(rr.sort_col)
        n = new.count()
        if n:
            path = self._data_dir(rr)
            new.write.mode("append").parquet(path)
            self._seed_read(path, cur.schema)
            self.mutations += 1  # plan-cache sync
        rr.stale = False
        return n

    def rebuild(self, name: str, source: DataFrame,
                dim_sources: dict[str, DataFrame] | None = None) -> None:
        """Re-materialize a reflection PRESERVING its declared shape
        (dims/measures/joins/filters/layout) from fresh base data — the
        refresh step of the reference's dependency-driven refresh
        (ReflectionServiceImpl): a base-table commit marks dependents
        stale, this brings them current."""
        refl = self._reflections.get(name)
        if refl is not None:
            src = self._join_star(source, refl.joins, dim_sources)
            for f in refl.filters:
                src = src.where(f)
            self._full_refresh(refl, src)
            refl.stale = False
            return
        rr = self._raw[name]
        proj = source.select(*rr.cols)
        if rr.sort_col:
            proj = proj.sortWithinPartitions(rr.sort_col)
        self._publish_data(
            rr, lambda p: self._write_plain(proj, p))
        rr.stale = False

    def scan(self, table: str, cols: list[str], base: DataFrame) -> tuple[DataFrame, bool]:
        """Column-level substitution: if a raw reflection covers `cols`,
        scan the narrow materialization instead of the base table."""
        for refl in self._raw.values():
            if (not refl.invalid and not self.is_expired(refl)
                    and refl.table == table
                    and set(cols) <= set(refl.cols)):
                mat = self._read_data(self._data_dir(refl))
                return mat.select(*cols), True
        return base.select(*cols), False

    def create_external_reflection(self, name: str, table: str,
                                   target: str, dataset_df: DataFrame,
                                   target_df: DataFrame
                                   ) -> "ExternalReflection":
        """ALTER TABLE <dataset> CREATE EXTERNAL REFLECTION <name>
        USING <target> (reference grammar alter.ftl:611;
        `ReflectionServiceImpl.createExternalReflection:586`): the user
        asserts <target> holds the same rows as <dataset>, and any
        query over the dataset may answer from the target instead.
        Validation mirrors the reference's materialization-descriptor
        check: the target's row type must match the dataset's (same
        column names and dtypes, order-insensitive).  Both schemas are
        fingerprinted (the reference's computeDatasetHash) so a later
        definition change surfaces as OUT_OF_SYNC instead of silently
        serving a mismatched shape."""
        self._bump()
        dfp, tfp = _schema_fp(dataset_df), _schema_fp(target_df)
        if dfp != tfp:
            raise ValueError(
                f"external reflection {name!r}: target {target!r} row "
                f"type does not match dataset {table!r} "
                f"({tfp} vs {dfp})")
        ext = ExternalReflection(name, table, target, dfp, tfp)
        self._external[name] = ext
        return ext

    def drop(self, name: str) -> None:
        self.mutations += 1  # plan-cache sync
        if self._external.pop(name, None) is not None:
            return  # no managed materialization to delete
        refl = (self._reflections.pop(name, None)
                or self._raw.pop(name, None))
        if refl:
            self._forget(refl.path)

    # -- materialization maintenance ---------------------------------------
    @staticmethod
    def _data_dir(refl) -> str:
        """Current materialization directory for `refl`'s generation."""
        g = getattr(refl, "generation", 0)
        return os.path.join(refl.path, "data" if g == 0 else f"data-g{g}")

    def _publish_data(self, refl, writer) -> None:
        """Write the NEXT materialization generation and flip to it.

        `writer(path)` materializes the new data at `path`.  The
        just-superseded generation stays on disk until the refresh
        after this one, so a reader whose plan was analyzed against it
        finishes its scan; only generations at least two refreshes old
        are removed.  This is what lets server execution run outside
        the engine lock without a refresh deleting files under an
        in-flight accelerated read (reference: every refresh creates a
        new materialization id, ReflectionServiceImpl)."""
        new_dir, old_g = self._stage_data(refl, writer)
        self._commit_staged(refl, old_g)

    def _stage_data(self, refl, writer) -> tuple[str, int]:
        """Materialize the next generation WITHOUT flipping to it.
        Used by the observe-based refreshes, whose change count is only
        known after the write executes: a zero-change refresh discards
        the staged dir and stays metadata-only (no generation bump, no
        plan-cache invalidation, no rotation of the grace-window
        generations)."""
        old_g = getattr(refl, "generation", 0)
        new_dir = os.path.join(refl.path, f"data-g{old_g + 1}")
        self._forget(new_dir)
        writer(new_dir)
        return new_dir, old_g

    def _commit_staged(self, refl, old_g: int) -> None:
        self.mutations += 1  # plan-cache sync (PlanCacheSynchronizer)
        refl.generation = old_g + 1
        for d in os.listdir(refl.path):
            g = None
            if d == "data":
                g = 0
            elif d.startswith("data-g"):
                try:
                    g = int(d[len("data-g"):])
                except ValueError:
                    continue
            if g is not None and g < old_g:
                self._forget(os.path.join(refl.path, d))

    def _path_of(self, name: str) -> str:
        refl = self._reflections.get(name) or self._raw.get(name)
        if refl is None:
            raise KeyError(f"no reflection named {name}")
        return self._data_dir(refl)

    def compact_materialization(self, name: str) -> tuple[int, int]:
        """COMPACT MATERIALIZE[D] data files (SqlCompactMaterialization,
        parserImpls.ftl): rewrite the materialization to fewer,
        target-sized files — incremental refreshes append small partials,
        and scan cost grows with file count.  Returns (files_before,
        files_after).  An unpartitioned layout gets one file per read
        split of a single file of its bytes (`statistics.file_splits`)."""
        refl = self._reflections.get(name) or self._raw.get(name)
        if refl is None:
            raise KeyError(f"no reflection named {name}")
        files = self._data_files(self._data_dir(refl))
        df = self._read_data(self._data_dir(refl))
        part_by = tuple(getattr(refl, "partition_by", ()) or ())

        def writer(p: str) -> None:
            if part_by:
                # layout-preserving: one file PER partition dir
                self._write_data(
                    refl, df.repartition(*[F.col(c) for c in part_by]), p)
            else:
                n = file_splits(self.spark,
                                [sum(os.path.getsize(f) for f in files)])
                self._write_plain(df.coalesce(max(n, 1)), p)

        self._publish_data(refl, writer)
        return len(files), len(self._data_files(self._data_dir(refl)))

    def load_materialization(self, name: str) -> DataFrame:
        """LOAD MATERIALIZATION (SqlLoadMaterialization): expose a
        reflection's materialization as a queryable dataset (temp view
        `mat_<name>`), the reference's debugging/inspection hook."""
        df = self._read_data(self._path_of(name))
        df.createOrReplaceTempView(f"mat_{name}")
        return df

    # -- refresh -----------------------------------------------------------
    def _group_keys(self, refl: Reflection) -> list:
        """Group-by keys over BASE-grain rows: a BY DAY dim stores
        cast(col as date) under the SAME column name
        (ReflectionExpander.java:194-210 makeCast to DATE)."""
        g = getattr(refl, "granularity", None) or {}
        return [F.col(d).cast("date").alias(d) if g.get(d) == "day"
                else F.col(d) for d in refl.dims]

    def _aggregate(self, df: DataFrame, refl: Reflection) -> DataFrame:
        aggs = []
        dtypes = dict(df.dtypes)
        for m in refl.measures:
            if m.kind == "count":
                # count(*) counts rows; count(col) counts NON-NULL values
                # — the partial must be null-aware or the rollup answers
                # count(nullable_col) with count(*)
                aggs.append((F.count("*") if m.col == "*"
                             else F.count(m.column)).alias(m.name))
            elif m.kind == "ndv":
                # APPROXIMATE COUNT DISTINCT measure: the partial is a
                # DataSketches HLL binary (mergeable at any coarser
                # grain via hll_union_agg; the reference stores HLL
                # partials the same way — HyperLogLog.java:28,
                # AccelCreateReflectionHandler measure type
                # APPROX_COUNT_DISTINCT)
                aggs.append(F.hll_sketch_agg(
                    _hll_input(m.column, dtypes.get(m.col)))
                    .alias(m.name))
            else:
                col = m.column
                if m.kind == "sum":
                    col = col.cast("decimal(28,4)")
                aggs.append(getattr(F, m.kind)(col).alias(m.name))
        return df.groupBy(*self._group_keys(refl)).agg(*aggs)

    def _write_data(self, refl: Reflection, df: DataFrame,
                    path: str) -> None:
        """Materialization write honoring the reflection's declared
        layout (PARTITION BY hive dirs via __p_ copies + LOCALSORT BY
        range/sort)."""
        if refl.sort_by:
            n = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            df = (df.repartitionByRange(n, *refl.sort_by)
                  .sortWithinPartitions(*refl.sort_by))
        if refl.partition_by:
            for c in refl.partition_by:
                df = df.withColumn(f"__p_{c}", F.col(c))
            (df.write.mode("overwrite")
             .partitionBy(*[f"__p_{c}" for c in refl.partition_by])
             .parquet(path))
        else:
            self._write_plain(df, path)

    def _write_plain(self, df: DataFrame, path: str) -> None:
        """Unpartitioned materialization write that seeds the read memo
        with a known-schema handle: the very next _read_data
        (substitution probe, refresh merge) would otherwise pay a
        schema-inference job on the files just written.  Partitioned
        layouts skip the seed (their read rediscovers __p_ dir columns,
        which the plain schema cannot express)."""
        df.write.mode("overwrite").parquet(path)
        self._seed_read(path, df.schema)

    def _seed_read(self, path: str, schema) -> None:
        """Memo entry for files just written under `path`: a
        known-schema handle, so the next read infers no schema."""
        mt = self._mtime(path)
        if mt is not None:
            self._read_data_memo[path] = (
                mt, self.spark.read.schema(schema).parquet(path), None)

    def _read_data(self, path: str) -> DataFrame:
        """Read a materialization dir, memoizing the DataFrame HANDLE
        (a logical plan, never data) per path, stamped with the dir's
        max entry mtime: every substitution probe / scan / refresh merge
        re-reads the current generation, and each fresh
        `spark.read.parquet` pays a schema-inference job.  A newer mtime
        replaces the entry — appends into the current generation
        (incremental_refresh_raw) must not serve the stale handle, whose
        file listing was snapshotted at read time.  Entries of removed
        generation dirs are dropped with the dir (`_forget`), so the
        memo holds at most one entry per live materialization dir."""
        df = self._read_raw(path)[1]
        helpers = [c for c in df.columns if c.startswith("__p_")]
        return df.drop(*helpers) if helpers else df

    @staticmethod
    def _mtime(path: str) -> float | None:
        try:
            return local_files(path)[0]
        except OSError:
            return None

    def _forget(self, path: str) -> None:
        """Remove a materialization dir and every memo entry under it."""
        shutil.rmtree(path, ignore_errors=True)
        memo = self._read_data_memo
        for p in [p for p in memo
                  if p == path or p.startswith(path + os.sep)]:
            del memo[p]

    def forget_splits(self) -> None:
        """Clear every memo entry's one-split decision (a split conf
        changed); the next scan decides again."""
        memo = self._read_data_memo
        for p, (mt, df, _) in list(memo.items()):
            memo[p] = (mt, df, None)

    @staticmethod
    def _data_files(path: str) -> list[str]:
        """The parquet data files of a materialization dir, across its
        partition dirs."""
        out = []
        for root, _, fns in os.walk(path):
            out += [os.path.join(root, f) for f in fns
                    if f.endswith(".parquet") and not f.startswith(".")]
        return out

    def _read_raw(self, path: str) -> tuple:
        """Memoized raw read: the memo entry (mtime or None, handle with
        the __p_ helper columns, one-split decision or None)."""
        mt = self._mtime(path)
        hit = self._read_data_memo.get(path)
        if mt is not None and hit is not None and hit[0] == mt:
            return hit
        entry = (mt, self.spark.read.parquet(path), None)
        if mt is not None:
            self._read_data_memo[path] = entry
        return entry

    def _full_refresh(self, refl: Reflection, source: DataFrame) -> None:
        # the watermark rides the materialization write as an observed
        # metric — ONE pass over the source instead of a second full
        # max() scan (gated off under sort_by: repartitionByRange's
        # sampling pass re-executes the child inside the same execution
        # and Observation rejects the duplicate update)
        obs = None
        if refl.watermark_col and not refl.sort_by:
            from pyspark.sql import Observation

            obs = Observation()
            source = source.observe(
                obs, F.max(F.col(refl.watermark_col)).alias("wm"))
        agg = self._aggregate(source, refl)
        self._publish_data(refl, lambda p: self._write_data(refl, agg, p))
        self._stamp(refl)
        if refl.watermark_col:
            wm = (obs.get["wm"] if obs is not None else
                  source.agg(F.max(refl.watermark_col)).collect()[0][0])
            refl.watermark = wm
            self._write_meta(refl)

    def incremental_refresh(self, refl_name: str, source: DataFrame) -> int:
        """Append-based refresh: aggregate only rows past the watermark,
        then merge partials with the existing materialization
        (IncrementalUpdateServiceUtils.java:46)."""
        refl = self._reflections[refl_name]
        if not refl.watermark_col:
            raise ValueError("reflection has no watermark column")
        new_rows = source.where(F.col(refl.watermark_col) > F.lit(refl.watermark))
        # One pass over the new rows: the folded-row count AND the new
        # watermark ride the merge write as observed metrics instead of
        # separate count()/max() scans (same shape as
        # _fold_signed_changes; gated off under a sort layout, whose
        # range-sampling pass would double-count).  The watermark
        # observes the PRE-FILTER frame: when any filtered row folds,
        # max(source rows > old wm) == max(source) — the value the old
        # separate max() scan stored; on n == 0 the old watermark is
        # kept, exactly as before.
        obs_wm = obs = None
        if not refl.sort_by:
            from pyspark.sql import Observation

            obs_wm = Observation()
            new_rows = new_rows.observe(
                obs_wm, F.max(F.col(refl.watermark_col)).alias("wm"))
        for f in refl.filters:
            new_rows = new_rows.where(f)
        if not refl.sort_by:
            from pyspark.sql import Observation

            obs = Observation()
            new_rows = new_rows.observe(
                obs, F.count(F.lit(1)).alias("n"))
        else:
            n_new = new_rows.count()
            if n_new == 0:
                return 0
        delta = self._aggregate(new_rows, refl)
        existing = self._read_data(self._data_dir(refl))
        merged = existing.unionByName(delta).groupBy(*refl.dims).agg(
            *[
                _ROLLUP[m.kind](F.col(m.name)).alias(m.name)
                for m in refl.measures
            ]
        )
        if obs is not None:
            # stage, then consult the observed count: zero new rows
            # discards the staged (identical) rewrite — metadata-only,
            # like the old count()-first early exit — and KEEPS the
            # stored watermark (max(source) here could sit BELOW it
            # for a narrower source and re-folding the gap later would
            # double-count); nonzero commits the new generation
            new_dir, old_g = self._stage_data(
                refl, lambda p: self._write_data(refl, merged, p))
            n_new = int(obs.get["n"])
            if n_new == 0:
                self._forget(new_dir)
                return 0
            self._commit_staged(refl, old_g)
            wm = obs_wm.get["wm"]
        else:
            self._publish_data(
                refl, lambda p: self._write_data(refl, merged, p))
            wm = source.agg(F.max(refl.watermark_col)).collect()[0][0]
        refl.watermark = wm
        self._write_meta(refl)
        self._stamp(refl)
        return n_new

    def cdf_incremental_refresh(self, refl_name: str,
                                table_path: str) -> int:
        """CDC-driven incremental refresh over a CDF-enabled Delta
        table: unlike append-only snapshot refresh, this maintains the
        materialization under DELETE/UPDATE/MERGE too, by folding SIGNED
        partials from the change feed — insert/update_postimage rows add
        to the aggregates, delete/update_preimage rows subtract.

        Contract: measures must be signable (SUM/COUNT — MIN/MAX can't
        be maintained under deletes without the base rows) and must
        include a COUNT so fully-emptied groups are detectable and
        dropped.  Returns the number of change rows folded in.

        Scale: reads ONLY the cdc files of the new commits (log
        metadata lists them) — the base table is never rescanned, which
        at 100 TB is the difference between a CDC-sized job and a full
        rebuild."""
        from ..sources.delta import read_delta_cdf, resolve_snapshot

        refl = self._reflections[refl_name]
        self._check_signable(refl)
        head = resolve_snapshot(self.spark, table_path).version
        if refl.base_version is None:
            # Folding from version 0 would re-apply the table's entire
            # change history on top of an already-built materialization,
            # double-counting every group (same guard as the Iceberg twin).
            raise ValueError("set refl.base_version to the Delta version the "
                             "materialization was built at")
        start = int(refl.base_version) + 1
        if start > head:
            return 0
        ch = read_delta_cdf(self.spark, table_path, start, head)
        return self._fold_signed_changes(refl, ch, head)

    def changelog_incremental_refresh(self, refl_name: str,
                                      table_path: str) -> int:
        """Iceberg twin of cdf_incremental_refresh, fed by the
        changelog scan: inserts add, deletes subtract.  COW carryover
        rows (the same row emitted as delete AND insert) cancel exactly
        in the signed fold, so the maintenance stays correct without
        row lineage.  Same SUM/COUNT-only contract."""
        from ..sources.iceberg import read_iceberg_changes, resolve_snapshot

        refl = self._reflections[refl_name]
        self._check_signable(refl)
        head = resolve_snapshot(table_path).snapshot_id
        start = refl.base_version
        if start is None:
            raise ValueError("set refl.base_version to the snapshot the "
                             "materialization was built at")
        if int(start) == head:
            return 0
        ch = read_iceberg_changes(self.spark, table_path, int(start), head)
        return self._fold_signed_changes(refl, ch, head)

    @staticmethod
    def _check_signable(refl: Reflection) -> None:
        reason = unsignable_reason(refl.measures)
        if reason is not None:
            raise ValueError(reason)

    def _fold_signed_changes(self, refl: Reflection, ch: DataFrame,
                             head) -> int:
        for f in refl.filters:
            ch = ch.where(f)
        # One pass over the change feed: the change-row count rides the
        # fold's own execution as an observed metric instead of a
        # separate ch.count() scan — at CDC scale that halves the feed
        # reads (and locally removes one fixed-cost job per refresh).
        # Gated off when the materialization layout needs a range sort:
        # repartitionByRange's sampling pass re-executes the child plan
        # inside the same execution and would double-count the metric.
        obs = None
        if not refl.sort_by:
            from pyspark.sql import Observation

            obs = Observation()
            ch = ch.observe(obs, F.count(F.lit(1)).alias("n"))
        else:
            n_changes = ch.count()
            if n_changes == 0:
                refl.base_version = head
                self._write_meta(refl)
                self._stamp(refl)  # verified current against the head
                return 0
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"),
            F.lit(1)).otherwise(F.lit(-1))
        aggs = []
        count_name = None
        for m in refl.measures:
            if m.kind == "count":
                if m.col == "*":
                    count_name = m.name
                    aggs.append(F.sum(sign).alias(m.name))
                else:  # null-aware: only non-null values carry a delta
                    aggs.append(F.sum(
                        sign * m.column.isNotNull().cast("long"))
                        .alias(m.name))
            else:  # sum
                aggs.append(
                    F.sum(m.column.cast("decimal(28,4)") * sign)
                    .alias(m.name))
        delta = ch.groupBy(*self._group_keys(refl)).agg(*aggs)
        existing = self._read_data(self._data_dir(refl))
        merged = (existing.unionByName(delta).groupBy(*refl.dims).agg(
            *[_ROLLUP[m.kind](F.col(m.name)).alias(m.name)
              for m in refl.measures])
            .where(F.col(count_name) > 0))
        if obs is not None:
            # stage the merged write, then consult the observed change
            # count that rode it: zero matching changes discards the
            # staged (provably identical — existing regrouped is an
            # identity, every stored group keeps count(*) > 0) rewrite
            # and the refresh stays metadata-only, exactly like the old
            # count()-first early exit; nonzero flips the generation.
            new_dir, old_g = self._stage_data(
                refl, lambda p: self._write_data(refl, merged, p))
            n_changes = int(obs.get["n"])
            if n_changes == 0:
                self._forget(new_dir)
            else:
                self._commit_staged(refl, old_g)
        else:
            self._publish_data(
                refl, lambda p: self._write_data(refl, merged, p))
        refl.base_version = head
        self._write_meta(refl)
        self._stamp(refl)
        return n_changes

    def snapshot_incremental_refresh(self, refl_name: str,
                                     table_path: str) -> int:
        """Snapshot-based incremental refresh over a LAKEHOUSE table:
        aggregate only the files added since the reflection's recorded
        snapshot/version (snapshot diff — `read_*_incremental`), merge
        partials into the materialization, advance the recorded
        snapshot.  This is the reference's Iceberg-based incremental
        refresh method (`IncrementalUpdateServiceUtils.java:46`,
        REFRESH_METHOD snapshot diff; append-only contract).  Returns
        the number of new rows folded in."""
        from ..sources import delta
        from ..sources.iceberg import read_iceberg_incremental
        from ..sources.lake_dml import codec_of

        refl = self._reflections[refl_name]
        codec = codec_of(table_path)
        head = codec.at(self.spark, table_path, None).version
        if codec is delta.DML:
            base = refl.base_version if refl.base_version is not None else -1
            if head == base:
                return 0
            new_rows = delta.read_delta_incremental(
                self.spark, table_path,
                from_version=base if base >= 0 else 0,
                to_version=head) if base >= 0 else None
        else:
            base = refl.base_version
            if head == base:
                return 0
            new_rows = (read_iceberg_incremental(
                self.spark, table_path, from_snapshot=base,
                to_snapshot=head) if base is not None else None)
        if new_rows is None:
            # first refresh: full build from the table head
            src = codec.read(self.spark, table_path)
            for f in refl.filters:
                src = src.where(f)
            self._full_refresh(refl, src)
            refl.base_version = head
            self._write_meta(refl)
            return -1  # full build marker
        for f in refl.filters:
            new_rows = new_rows.where(f)
        if not refl.sort_by:
            # one pass: count rides the merge write (see
            # _fold_signed_changes); zero new rows discards the staged
            # (identical) rewrite so a no-op refresh stays metadata-only
            from pyspark.sql import Observation

            obs = Observation()
            new_rows = new_rows.observe(
                obs, F.count(F.lit(1)).alias("n"))
            delta = self._aggregate(new_rows, refl)
            existing = self._read_data(self._data_dir(refl))
            merged = existing.unionByName(delta).groupBy(*refl.dims).agg(
                *[_ROLLUP[m.kind](F.col(m.name)).alias(m.name)
                  for m in refl.measures])
            new_dir, old_g = self._stage_data(
                refl, lambda p: self._write_data(refl, merged, p))
            n_new = int(obs.get["n"])
            if n_new == 0:
                self._forget(new_dir)
            else:
                self._commit_staged(refl, old_g)
        elif (n_new := new_rows.count()):
            delta = self._aggregate(new_rows, refl)
            existing = self._read_data(self._data_dir(refl))
            merged = existing.unionByName(delta).groupBy(*refl.dims).agg(
                *[_ROLLUP[m.kind](F.col(m.name)).alias(m.name)
                  for m in refl.measures])
            self._publish_data(
                refl, lambda p: self._write_data(refl, merged, p))
        refl.base_version = head
        self._write_meta(refl)
        self._stamp(refl)
        return n_new

    def _write_meta(self, refl: Reflection) -> None:
        with open(os.path.join(refl.path, "meta.json"), "w") as f:
            json.dump({"watermark": str(refl.watermark)}, f)

    # -- substitution ------------------------------------------------------
    def find_match(self, q: AggQuery, accept=None) -> Reflection | None:
        """Cheapest covering reflection, not the first registered: fewer
        dimensions means a smaller materialization to rescan (the
        reference's substitution costing compares materialization row
        counts the same way — DremioCost over the substituted tree);
        materialized byte size breaks ties when both shapes cover.
        `accept` adds a caller-side veto (e.g. qualified-name checks)."""
        def cost(r: Reflection) -> tuple[int, int]:
            size = 0
            # current generation dir, not the original "data": after two
            # refreshes "data" is gone and sizing it would zero out the
            # tiebreak for every refreshed reflection
            data = self._data_dir(r)
            for root, _, fns in os.walk(data):
                size += sum(os.path.getsize(os.path.join(root, f))
                            for f in fns if f.endswith(".parquet"))
            return (len(r.dims), size)

        covering = [r for r in self._reflections.values()
                    if r.covers(q) and not self.is_expired(r)
                    and (accept is None or accept(r))]
        self._note_candidates(covering)
        return min(covering, key=cost) if covering else None

    def _note_candidates(self, refls) -> None:
        """Substitution-candidate log for the job profile's
        acceleration section (the reference records considered/
        matched reflections per query): the engine resets
        `last_candidates` at probe start and reads it after — a
        driver-side list append, nothing touches data."""
        cur = getattr(self, "last_candidates", None)
        if cur is None:
            cur = self.last_candidates = []
        cur.extend(r.name for r in refls if r.name not in cur)

    def scan_materialization(self, refl: Reflection | RawReflection,
                             filters: tuple[str, ...]) -> DataFrame:
        """The materialization scan with query filters applied, including
        partition-directory pruning through the __p_ helper columns.
        A materialization Spark reads as ONE file split is scanned as
        `coalesce(1)` (`statistics.one_split`), so the rollup and the
        sort above it plan no Exchange.  The decision rides the read
        memo entry."""
        path = self._data_dir(refl)
        mt, raw, one = self._read_raw(path)
        if one is None and mt is not None:
            try:
                sizes = [os.path.getsize(f) for f in self._data_files(path)]
            except OSError:
                sizes = []
            one = one_split(self.spark, sizes)
            self._read_data_memo[path] = (mt, raw, one)
        helpers = [c for c in raw.columns if c.startswith("__p_")]
        mat = raw
        for f in filters:
            mat = mat.where(f)
            # PARTITION BY payoff: an equality filter on a partitioned
            # dim re-applies against the __p_ partition column, so the
            # substituted scan prunes whole directories (PartitionFilters
            # in the plan), not just row groups
            for c in getattr(refl, "partition_by", ()):
                # Only re-filter when the WHOLE predicate is a single
                # equality against a literal/identifier — a greedy match on
                # a compound filter ("region = 'EU' AND x > 3") would hand
                # F.expr a non-expression and fail analysis (or mis-prune).
                m2 = re.match(
                    rf"\s*{re.escape(c)}\s*=\s*('[^']*'|[\w.]+)\s*$",
                    f.strip())
                if m2 and f"__p_{c}" in helpers:
                    mat = mat.where(
                        F.col(f"__p_{c}") == F.expr(m2.group(1)))
        if helpers:
            mat = mat.drop(*helpers)
        return mat.coalesce(1) if one else mat

    def execute(
        self,
        q: AggQuery,
        base: DataFrame,
        dim_sources: dict[str, DataFrame] | None = None,
        accept=None,
    ) -> tuple[DataFrame, bool]:
        """Answer an AggQuery, substituting a reflection when one covers it.

        Returns (result, substituted).  The rollup path never touches the
        base table (nor re-runs any star join): SUMs re-sum partial sums,
        COUNTs re-sum partial counts, MIN/MAX re-min/max.
        """
        refl = self.find_match(q, accept=accept)
        if refl is None:
            df = self._join_star(base, q.joins, dim_sources)
            for f in q.filters:
                df = df.where(f)
            if not q.measures:  # pure GROUP BY / DISTINCT over dims
                return df.select(*q.dims).distinct(), False
            aggs = []
            for m in q.measures:
                if m.kind == "count":
                    aggs.append((F.count("*") if m.col == "*"
                                 else F.count(m.column)).alias(m.name))
                elif m.kind == "ndv":
                    aggs.append(
                        F.approx_count_distinct(m.column).alias(m.name))
                else:
                    col = m.column
                    if m.kind == "sum":
                        col = col.cast("decimal(28,4)")
                    aggs.append(getattr(F, m.kind)(col).alias(m.name))
            return df.groupBy(*q.dims).agg(*aggs), False

        mat = self.scan_materialization(refl, q.filters)
        if not q.measures:  # pure GROUP BY / DISTINCT: dims roll up alone
            return mat.select(*q.dims).distinct(), True

        def _roll(m: Measure):
            if m.name in mat.columns:
                # ndv: estimate the unioned sketch partials
                if m.kind == "ndv":
                    return F.hll_sketch_estimate(
                        F.hll_union_agg(F.col(m.name))).alias(m.name)
                return _roll_partial(m, not q.dims)
            # no declared partial: covers() admitted a DIM-GRAIN answer
            # (ndv / min / max / count over a stored dim — see covers())
            if m.kind == "ndv":
                return F.approx_count_distinct(m.column).alias(m.name)
            if m.kind in ("min", "max"):
                return _ROLLUP[m.kind](m.column).alias(m.name)
            return F.expr(
                f"coalesce(sum(case when {m.col} is not null "
                f"then count_all end), 0)").alias(m.name)

        return mat.groupBy(*q.dims).agg(*[_roll(m) for m in q.measures]), True
