"""Plan-tree reflection matching: canonicalize a query's ANALYZED logical
plan and match it against registered reflections.

Reference: dremio-oss substitutes materializations into arbitrary query
trees — `planner/acceleration/substitution/SubstitutionProvider.java:40`
(Calcite SubstitutionVisitor over a canonicalized tree) with the
normalization phases of `PlannerPhase.java:145-169`.  This module does the
tree-level equivalent, Spark-first:

- Spark ANALYZES the SQL (views expand, names resolve, types settle) —
  the analyzed LogicalPlan *is* the canonical tree, serialized to JSON
  (`TreeNode.toJSON`), no JVM-walking py4j traffic beyond one call.
- The tree is reduced to a declarative `AggQuery` IR: leaf tables, inner
  equi-join edges, conjunctive filters, group-by dims, rollup-able
  measures.  Every construct outside that fragment soundly refuses
  (returns None) and the query plans normally.
- `ReflectionStore.covers()` then decides substitution exactly as for
  API-built queries: join edges ⊆ reflection star, dims ⊆ dims,
  measures ⊆ measures, filters implied + dim-only.

Views expand during analysis, so a VDS defined as a star join
accelerates from a reflection on its fact table: the user's
`SELECT ... FROM vds GROUP BY ...` analyzes into the same join subtree
the reflection materialized.  A view that carries a reflection of its
own is the exception: the extractors take it as one leaf (`anchors`),
named like the reflection's table, so its body is never walked.

Scale: extraction is pure plan metadata (a few KB of JSON per query);
the win is the substituted scan — a few-MB rollup materialization
instead of the 100 TB fact join.
"""

from __future__ import annotations

import datetime
import json
import re
from dataclasses import dataclass

from .reflections import AggQuery, JoinSpec, Measure

# Average is REDUCED to sum/count before matching, mirroring the
# reference's DremioAggregateReduceFunctionsRule (PlannerPhase.java:624):
# avg(x) answers from a reflection carrying SUM(x) and COUNT(x).
_AGG_FNS = {"Sum": "sum", "Min": "min", "Max": "max", "Count": "count",
            "Average": "avg",
            # approx_count_distinct / NDV(): answered from a reflection's
            # HLL sketch measure (APPROXIMATE COUNT DISTINCT,
            # SqlCreateReflection.java:316) or, exactly, from a stored
            # dim's distinct values
            "HyperLogLogPlusPlus": "ndv"}
_CMP = {
    "EqualTo": "=", "GreaterThan": ">", "GreaterThanOrEqual": ">=",
    "LessThan": "<", "LessThanOrEqual": "<=",
}
_FLIP = {">": "<", "<": ">", ">=": "<=", "<=": ">=", "=": "="}


def _cls(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


def _is_coalesce(node: dict) -> bool:
    """`coalesce(n)`: rows unchanged, only the partitioning — how a
    one-split base scan is handed out (`statistics.one_split`)."""
    return _cls(node) == "Repartition" and not node.get("shuffle")


def _tree(arr: list[dict]):
    """Rebuild the pre-order (node, children) tree TreeNode.toJSON emits."""
    pos = 0

    def rec():
        nonlocal pos
        node = arr[pos]
        pos += 1
        kids = [rec() for _ in range(node.get("num-children", 0))]
        return (node, kids)

    root = rec()
    if pos != len(arr):  # pragma: no cover — malformed serialization
        raise ValueError("dangling plan nodes")
    return root


def _expr(field) -> tuple[dict, list]:
    """An expression field is its own pre-order array."""
    return _tree(field)


def _attr_id(node: dict) -> int:
    return int(node["exprId"]["id"])


class _Unsupported(Exception):
    """Plan shape outside the matchable fragment (sound: no substitution)."""


# -- measure-expression canonicalization ------------------------------------
# `sum(l_extendedprice * (1 - l_discount))` — the TPC-H revenue shape —
# matches a reflection that declared the SAME expression measure.  Both
# sides (the query's analyzed tree and the DDL's probe-analyzed tree)
# canonicalize through this walker.
#
# Soundness contract: the canonical string must RE-ANALYZE (over the
# same base table) to a tree computing exactly what the query's tree
# computes.  That holds only for casts ANALYSIS inserts — which wrap
# literal/column operands of arithmetic, never user intent — so the
# walker strips exactly one cast shape: a numeric coercion cast around
# a numeric LITERAL (re-analysis re-coerces the literal identically in
# the same operand position).  Every other cast — user-written
# narrowing, column widenings, non-numeric targets — REFUSES: stripping
# them would match expressions with different arithmetic (a review
# finding: `cast(price as int) * q` must not answer from a reflection
# over `price * q`).  Literal rendering preserves the literal's TYPE
# CLASS (integral `3` vs fractional `3.0` vs double `2.5e0`) so
# integer- and decimal-arithmetic variants never cross-match.
_ARITH_OPS = {"Add": "+", "Subtract": "-", "Multiply": "*", "Divide": "/"}
_NUM_DTYPES = ("integer", "long", "short", "byte", "double", "float",
               "decimal")


def _is_numeric_dtype(dt) -> bool:
    return isinstance(dt, str) and dt.startswith(_NUM_DTYPES)


def _canon_lit(node) -> str:
    v, dt = node.get("value"), node.get("dataType")
    if v is None or not _is_numeric_dtype(dt):
        raise _Unsupported("non-numeric literal in measure expression")
    s = str(v)
    if dt in ("integer", "long", "short", "byte"):
        return s
    if dt in ("double", "float"):
        # a dotted SQL literal parses as DECIMAL; E-notation round-trips
        # to double, preserving this literal's arithmetic class
        return s if ("e" in s.lower()) else f"{float(s)!r}e0"
    # decimal: keep a decimal point so re-analysis stays decimal-typed
    return s if "." in s else s + ".0"


def _canon_arith(node, kids, resolve) -> str:
    c = _cls(node)
    if c == "Cast":
        child, _ckids = kids[0]
        if (_cls(child) == "Literal"
                and _is_numeric_dtype(node.get("dataType"))
                and _is_numeric_dtype(child.get("dataType"))):
            return _canon_lit(child)  # analysis-inserted literal coercion
        raise _Unsupported("cast in measure expression")
    if c == "AttributeReference":
        return resolve(node)
    if c == "Literal":
        return _canon_lit(node)
    op = _ARITH_OPS.get(c)
    if op is not None and len(kids) == 2:
        return (f"({_canon_arith(*kids[0], resolve)} {op} "
                f"{_canon_arith(*kids[1], resolve)})")
    raise _Unsupported(f"measure expression node {c}")


def canonical_expr_from_projection(analyzed_json: str) -> str | None:
    """Canonical form of a single-projection probe
    (`SELECT <expr> AS __m FROM t` analyzed) — the DDL side of
    expression-measure matching.  None when outside the fragment."""
    try:
        root = _tree(json.loads(analyzed_json))
        node, kids = root
        while _cls(node) != "Project":
            node, kids = kids[0]
        top, tkids = _expr(node["projectList"][0])
        if _cls(top) != "Alias":
            raise _Unsupported("unaliased probe projection")
        return _canon_arith(*tkids[0], lambda a: a["name"])
    except (_Unsupported, KeyError, ValueError, TypeError, IndexError):
        return None


def _sort_flags(sort_order_node: dict) -> tuple[bool, bool]:
    """(ascending, nulls_first) from a SortOrder node — NULLS FIRST/LAST
    must survive substitution or accelerated runs reorder rows."""
    asc = (sort_order_node["direction"]["object"].rsplit(".", 1)[-1]
           == "Ascending$")
    nf = (sort_order_node["nullOrdering"]["object"].rsplit(".", 1)[-1]
          == "NullsFirst$")
    return asc, nf


def _sort_col(col, asc: bool, nulls_first: bool):
    if asc:
        return col.asc_nulls_first() if nulls_first else col.asc_nulls_last()
    return col.desc_nulls_first() if nulls_first else col.desc_nulls_last()


# A DimKey canonicalizes one group-by key over a resolved base column:
#   ("col", table, col)            — the column itself
#   ("year"|"month"|"quarter", table, col)
#   ("trunc", fmt, table, col)     — trunc(col, fmt)       (TruncDate)
#   ("dtrunc", fmt, table, col)    — date_trunc(fmt, col)  (TruncTimestamp)
#   ("upper"|"lower"|"trim"|"length"|"abs"|"floor"|"ceil", table, col)
#   ("substr", pos, len, table, col) — substring(col, pos, len)
# Expression keys are matched against a reflection carrying the BASE
# column at its stored (finer) grain and re-applied over the
# materialization at rollup — the expression-dim normalization of the
# reference's MaterializationExpander (PlannerPhase.java:145-169).
# Every non-"col" kind is a DETERMINISTIC pure function of one stored
# column, which is the whole soundness condition: re-grouping the
# rollup cells by f(col) merges exactly the cells the base query's
# groups would merge, and every measure kind re-aggregates.
def _dim_base(k: tuple) -> str:
    return k[-1]


def _dd_name(payload: tuple) -> str:
    """Stable internal column name for a distinct-agg rollup output.

    Derived from a digest of the (agg kind, DimKey) payload — NOT an
    enumeration index — so the name HAVING renders at extraction time
    still resolves at match time even when the top projection dropped
    some distinct-agg outputs and changed their relative order."""
    import hashlib

    return "__dd_" + hashlib.md5(
        repr(payload).encode()).hexdigest()[:10]


def _ca_name(payload: tuple) -> str:
    """Digest-stable internal name for a CONDITIONAL-aggregate rollup
    output (same contract as _dd_name)."""
    import hashlib

    return "__ca_" + hashlib.md5(
        repr(payload).encode()).hexdigest()[:10]


def _ca_val_sql(kind: str, val: tuple) -> str:
    """Per-CELL partial for one CASE branch value.  The branch predicate
    references only dims, so it is CONSTANT within a rollup cell and the
    branch value's contribution reduces to that cell's partials:
    a column v -> the v partial of `kind`; a literal ℓ -> ℓ·count(*)
    for SUM (every row contributes ℓ), count(*) for COUNT (ℓ is
    non-null on every row), ℓ itself for MIN/MAX (cells are non-empty);
    NULL -> no contribution (0 rows for COUNT, NULL otherwise)."""
    t = val[0]
    if t == "col":
        return Measure("count" if kind == "count" else kind,
                       val[1]).name
    if t == "scale":  # ℓ·v: ℓ·Σv / count(v) / ℓ·min(v) / ℓ·max(v)
        if kind == "count":
            return Measure("count", val[2]).name
        return f"({val[1]} * {Measure(kind, val[2]).name})"
    if t == "lit":
        if kind == "sum":
            return f"({val[1]} * count_all)"
        if kind == "count":
            return "count_all"
        return val[1]
    return "0" if kind == "count" else "null"


def _ca_sql(payload: tuple) -> str:
    """Rollup SQL for a conditional aggregate over the materialization:
    `sum(case when p1 then <cell partial> ... end)` — the CASE cascade
    evaluates per cell with first-match-wins order preserved.  COUNT
    coalesces to 0 (a group with no matching cells counts zero rows,
    while the partial sum of all-NULLs would be NULL)."""
    kind, branches, els = payload
    whens = " ".join(f"when {pr} then {_ca_val_sql(kind, v)}"
                     for pr, v in branches)
    outer = "sum" if kind in ("sum", "count") else kind
    expr = f"{outer}(case {whens} else {_ca_val_sql(kind, els)} end)"
    return f"coalesce({expr}, 0)" if kind == "count" else expr


def _ae_name(key: tuple) -> str:
    """Digest-stable internal name for an avg-over-expression-dim
    rollup output (same contract as _dd_name)."""
    import hashlib

    return "__ae_" + hashlib.md5(repr(key).encode()).hexdigest()[:10]


def _ae_sql(key: tuple) -> str:
    """Count-weighted AVG of an integer-valued expression dim over the
    materialization cells.  f(dim) is NULL exactly when dim is NULL, so
    both sums restrict to non-null-f cells — the denominator must
    exclude null cells or a NULL dim group would inflate it (base AVG
    counts only non-null inputs)."""
    f = _dim_sql(key)
    return (f"(cast(sum(case when {f} is not null then "
            f"({f} * count_all) end) as double) / "
            f"sum(case when {f} is not null then count_all end))")


def _ca_measures(payload: tuple) -> list[Measure]:
    """Partial measures a conditional aggregate needs from the
    reflection (drives covers() and the rollup computation)."""
    kind, branches, els = payload
    out: list[Measure] = []
    for _pr, val in list(branches) + [(None, els)]:
        if val[0] == "col":
            out.append(Measure("count" if kind == "count" else kind,
                               val[1]))
        elif val[0] == "scale":
            out.append(Measure("count" if kind == "count" else kind,
                               val[2]))
        elif val[0] == "lit" and kind in ("sum", "count"):
            out.append(Measure("count", "*"))
    return out


def _dim_sql(k: tuple) -> str:
    """Render a DimKey as a SQL expression over its base column —
    exactly what `_dim_col` builds as a Column.  Used to re-apply
    WHERE predicates over whitelisted expression dims on the
    materialization scan (`year(l_shipdate) = 1995` filters rollup
    cells by a pure function of the stored dim, so the surviving
    groups are identical to the base query's)."""
    base = k[-1]
    if k[0] == "col":
        return base
    if k[0] in ("year", "month", "quarter") or k[0] in _PURE_FNS:
        return f"{k[0]}({base})"
    if k[0] == "trunc":
        return f"trunc({base}, '{k[1]}')"
    if k[0] == "dtrunc":
        return f"date_trunc('{k[1]}', {base})"
    if k[0] == "substr":
        return f"substring({base}, {int(k[1])}, {int(k[2])})"
    raise ValueError(f"unknown dim key {k!r}")  # pragma: no cover


def _dim_col(k: tuple):
    from pyspark.sql import functions as F

    base = F.col(k[-1])
    if k[0] == "col":
        return base
    if k[0] in ("year", "month", "quarter"):
        return getattr(F, k[0])(base)
    if k[0] == "trunc":
        return F.trunc(base, k[1])
    if k[0] == "dtrunc":
        return F.date_trunc(k[1], base)
    if k[0] in _PURE_FNS:
        return getattr(F, k[0])(base)
    if k[0] == "substr":
        return F.substring(base, int(k[1]), int(k[2]))
    raise ValueError(f"unknown dim key {k!r}")  # pragma: no cover


# Pure unary scalar functions accepted as expression dims: IR class ->
# (DimKey kind == pyspark.sql.functions name).  Deterministic, one
# column argument, no analyzer-inserted casts in the bare-column form.
_PURE_FN_CLASSES = {"Upper": "upper", "Lower": "lower",
                    "StringTrim": "trim", "Length": "length",
                    "Abs": "abs", "Floor": "floor", "Ceil": "ceil"}
_PURE_FNS = frozenset(_PURE_FN_CLASSES.values())


@dataclass
class ExtractedAgg:
    """Canonical form of one matchable aggregate query."""

    tables: frozenset[str]
    # (join_type, (t,c), (t,c)) — join_type "inner" | "left"
    edges: list[tuple[str, tuple[str, str], tuple[str, str]]]
    dims: list[tuple]                    # DimKeys (see above)
    filters: tuple[str, ...]             # rendered `col op literal` strings
    # output order: (out_name, kind, payload) — kind 'dim' -> DimKey,
    # kind 'measure' -> Measure, kind 'avg' -> base col, kind
    # 'cdistinct' -> (agg kind 'count'|'sum'|'avg', DimKey)
    outputs: list[tuple[str, str, object]]
    order_by: list[tuple[str, bool, bool]]  # (out_name, asc, nulls_first)
    # ORDER BY ... LIMIT n (the BI top-N shape): re-applied after the
    # rollup's own sort; None when the query has no limit
    limit: int | None = None
    # GROUP BY ROLLUP/CUBE/GROUPING SETS: (grouping_id, presence mask
    # aligned with `dims`) per set; None for a plain GROUP BY.  Each set
    # substitutes as its own rollup of the materialization; the frames
    # union.
    grouping_sets: tuple | None = None
    # HAVING conjuncts rendered against INTERNAL rollup column names
    # (measure.name / dim column), applied post-rollup pre-projection
    havings: tuple[str, ...] = ()
    # out_name -> Spark type string for outputs the query wrapped in a
    # CAST (re-applied on substitution so result dtypes match the
    # unaccelerated run exactly)
    casts: dict | None = None
    # EVERY aggregate-output measure, including ones the final
    # projection drops (a HAVING-only measure must still roll up —
    # filtering a dim-distinct frame on a dropped measure name would
    # resolve against per-cell PARTIALS via Spark's missing-reference
    # rule and return garbage)
    all_measures: tuple[Measure, ...] = ()
    # bare column name -> the QUERY table it resolved from, for every
    # column the query touches; matched against Reflection.col_owner so
    # a name that collides with a same-named column from a different
    # star table refuses instead of rolling up the wrong column
    qualified: dict | None = None
    # tables null-extended by a LEFT OUTER edge — orientation must keep
    # them on the dim (child) side of their edge
    nullable: frozenset = frozenset()
    # distinct-agg payloads referenced ONLY by HAVING (the top
    # projection dropped their output) — they must still be computed in
    # the rollup, same reason as all_measures above
    extra_cdistincts: tuple = ()
    # conditional-aggregate payloads referenced only by HAVING
    extra_condaggs: tuple = ()
    # avg-over-expression-dim keys referenced by HAVING or inside
    # post-agg arithmetic (their __ae_ rollup columns must compute)
    extra_avgexprs: tuple = ()
    # HAVING references grouping()/grouping_id(): the per-set frames
    # must carry the __gs_gid literal even when no output projects it
    having_gid: bool = False
    # base columns conditional-agg CASE predicates reference — matched
    # as extra dims (the cell-constant reduction needs them stored)
    condagg_cols: tuple = ()

    @property
    def cdistincts(self) -> tuple[tuple, ...]:
        """(agg kind, DimKey) pairs under COUNT/SUM/AVG(DISTINCT ...) —
        their base columns are matched as extra dims.  Includes
        HAVING-only payloads so the rollup computes them."""
        return tuple(dict.fromkeys(
            tuple(p for _, k, p in self.outputs if k == "cdistinct")
            + tuple(self.extra_cdistincts)))

    @property
    def cdistinct_base_cols(self) -> tuple[str, ...]:
        """Base columns the reflection must carry at dim grain."""
        return tuple(dict.fromkeys(
            _dim_base(key) for _kind, key in self.cdistincts))

    @property
    def condaggs(self) -> tuple[tuple, ...]:
        """Conditional-aggregate payloads the rollup must compute —
        projected outputs plus HAVING-only ones."""
        return tuple(dict.fromkeys(
            tuple(p for _, k, p in self.outputs if k == "condagg")
            + tuple(self.extra_condaggs)))

    @property
    def base_dims(self) -> tuple[str, ...]:
        return tuple(dict.fromkeys(_dim_base(k) for k in self.dims))

    @property
    def measures(self) -> tuple[Measure, ...]:
        ms = self.all_measures or tuple(
            p for _, k, p in self.outputs if k == "measure")
        # dedupe: `sum(x) AS a, sum(x) AS b` is ONE rollup column
        # referenced twice — duplicate Measure entries would alias two
        # agg columns to the same internal name and break the select
        return tuple(dict.fromkeys(ms))


def _output_cols(node, kids) -> list[tuple[int, str]]:
    """(attr id, name) of each output column of a view body's top node;
    a top outside these shapes refuses."""
    c = _cls(node)
    if c in ("Project", "Aggregate"):
        items = node["projectList" if c == "Project"
                     else "aggregateExpressions"]
        return [(_attr_id(it[0]), it[0]["name"]) for it in items]
    if c in ("LogicalRelation", "LogicalRDD"):
        return [(_attr_id(o[0]), o[0]["name"]) for o in node["output"]]
    if c in ("Filter", "Sort", "GlobalLimit", "LocalLimit", "Distinct",
             "SubqueryAlias", "View", "Union") or _is_coalesce(node):
        # a union's output ids are its first branch's
        return _output_cols(*kids[0])
    raise _Unsupported(f"view body {c}")


class _Extractor:
    def __init__(self, root, anchors=None):
        # flat view name (lower case) -> the reflection table it anchors:
        # such a view is one leaf, its body never walked
        self.anchors: dict[str, str] = anchors or {}
        self.env: dict[int, tuple[str | None, str] | None] = {}
        self.tables: list[str] = []
        self.filter_exprs: list = []
        # tables incident to a FULL outer edge: BOTH sides are
        # null-extended there, so query filters touching them refuse
        # (same below/above-join conflation argument as `nullable`)
        self.full_tables: set[str] = set()
        # (join_type, condition expr, tables on the null-extended side)
        self.edges: list = []
        # tables null-extended by some LEFT OUTER edge — filters and
        # further join conditions over their columns refuse (a WHERE on
        # a nullable dim column silently turns the outer join inner)
        self.nullable: set[str] = set()
        self.root = root
        # bare name -> query table, recorded on every resolution; two
        # query tables exposing the same bare name makes the bare-name
        # IR ambiguous -> the whole query refuses (sound)
        self.qualified: dict[str, str] = {}
        # attr id -> DimKey for projection aliases that compute a
        # WHITELISTED dim expression over a base column
        # (`select year(d) as y from t` ... `group by y`): the alias
        # participates anywhere a dim expression can — group keys,
        # distinct-agg args, filters — resolved to its base column
        self.expr_alias: dict[int, tuple] = {}
        # base columns referenced by conditional-aggregate CASE
        # predicates (must be stored dims; ride AggQuery.dims)
        self.condagg_cols: list[str] = []

    # -- bottom half: leaves/joins/filters under the Aggregate -------------
    def _walk_source(self, node, kids):
        c = _cls(node)
        if c in ("LogicalRelation", "LogicalRDD"):
            # file relation or an in-memory frame behind a temp view —
            # either way a leaf whose outputs the enclosing alias names
            ids = []
            for out in node["output"]:
                attr, _ = _expr(out)
                self.env[_attr_id(attr)] = (None, attr["name"])
                ids.append(_attr_id(attr))
            return set(ids)
        if c == "View" or _is_coalesce(node):
            return self._walk_source(*kids[0])
        if c == "SubqueryAlias":
            anchor = self.anchors.get(node["identifier"]["name"].lower())
            if anchor is not None and _cls(kids[0][0]) == "View":
                # a reflection-anchored view: one leaf named like the
                # reflection's table, whose columns are the view's output
                for i, col in _output_cols(*kids[0][1][0]):
                    self.env[i] = (anchor, col)
                self.tables.append(anchor)
                return set()
            pending = self._walk_source(*kids[0])
            if pending:
                name = node["identifier"]["name"]
                self.tables.append(name)
                for i in pending:
                    self.env[i] = (name, self.env[i][1])
            return set()
        if c == "Project":
            pending = self._walk_source(*kids[0])
            for item in node["projectList"]:
                top, tkids = _expr(item)
                if _cls(top) == "AttributeReference":
                    continue  # passes through, already in env
                if _cls(top) == "Alias":
                    child, _ = tkids[0]
                    if _cls(child) == "AttributeReference":
                        self.env[_attr_id(top)] = self.env.get(
                            _attr_id(child))
                        if _attr_id(child) in self.expr_alias:
                            # re-alias of an expression alias: the new
                            # id inherits the recorded expression
                            self.expr_alias[_attr_id(top)] = \
                                self.expr_alias[_attr_id(child)]
                    else:
                        # computed column: record the RAW expression so
                        # a later _dim_key use can canonicalize it
                        # lazily (table names are only assigned after
                        # this walk returns); non-whitelisted shapes
                        # refuse at use, so plain env stays None
                        self.env[_attr_id(top)] = None
                        self.expr_alias[_attr_id(top)] = tkids[0]
                    continue
                raise _Unsupported("project item")
            return pending
        if c == "Filter":
            self.filter_exprs.append(_expr(node["condition"]))
            return self._walk_source(*kids[0])
        if c == "Join":
            jt_obj = node.get("joinType", {}).get("object", "")
            jt = {"Inner$": "inner",
                  "LeftOuter$": "left",
                  "RightOuter$": "right",
                  "FullOuter$": "full"}.get(jt_obj.rsplit(".", 1)[-1])
            if jt is None:
                raise _Unsupported("non-inner join")
            if jt == "right":
                # `dim RIGHT JOIN fact` IS `fact LEFT JOIN dim`: swap
                # children and reuse the whole left-preserving path —
                # the edge/nullable bookkeeping below is side-agnostic
                # (it resolves columns by attribute, not position)
                kids = [kids[1], kids[0]]
                jt = "left"
            n_pre = len(self.tables)
            pend_l = self._walk_source(*kids[0])
            n_mid = len(self.tables)
            pend_r = self._walk_source(*kids[1])
            right_tables = frozenset(self.tables[n_mid:])
            if jt in ("left", "full"):
                if len(right_tables) != 1:
                    # only leaf dims on the nullable side: a multi-table
                    # nullable subtree makes edge order significant and
                    # the unordered JoinSpec set can't express it
                    raise _Unsupported("left join of a join subtree")
                self.nullable |= right_tables
            if jt == "full":
                # FULL outer (the reference normalizes it when the
                # reflection declared the same edge): null-extended
                # rows on BOTH sides group like values in the rollup —
                # the LEFT algebra plus dim-only rows whose fact
                # measures are null.  Every incident table joins the
                # filter-refusal set.
                self.full_tables |= set(
                    self.tables[n_pre:n_mid]) | right_tables
            cond = node.get("condition")
            if not cond:
                raise _Unsupported("cross join")
            self.edges.append((jt, _expr(cond), right_tables))
            return pend_l | pend_r
        raise _Unsupported(f"plan node {c}")

    def _classify_agg(self, child, ckids) -> tuple[str, object]:
        """Canonicalize one AggregateExpression: ('measure', Measure) |
        ('avg', base col — reduced to sum/count partials) |
        ('cdistinct', (agg kind, DimKey)).  Shared by top-level outputs
        and post-aggregation arithmetic leaves."""
        fn, fkids = ckids[0]
        kind = _AGG_FNS.get(_cls(fn))
        if kind is None:
            raise _Unsupported(f"aggregate {_cls(fn)}")
        if not fkids:
            raise _Unsupported("zero-arg aggregate")
        if kind == "ndv":
            # a non-default relativeSD changes HLL++'s precision; the
            # substituted answer (sketch estimate, or HLL++ at default
            # rsd over the dim grain) can't honor it — sound refusal
            rsd = fn.get("relativeSD")
            if rsd is not None and abs(float(rsd) - 0.05) > 1e-12:
                raise _Unsupported("approx_count_distinct with "
                                   "non-default rsd")
        # the agg ARGUMENT is taken verbatim — analysis inserts no
        # casts directly under aggregate functions (verified against
        # sum/avg/min over every numeric width), so a Cast here is
        # USER-WRITTEN and value-changing (min(cast(x as string)) is
        # a lexicographic min); it routes to the expression walker,
        # which refuses non-literal casts
        an, ak = fkids[0]
        if child.get("isDistinct"):
            # COUNT/SUM/AVG(DISTINCT x): answerable from a reflection
            # carrying x's BASE column at DIM grain — the distinct value
            # set inside each query group is exactly the distinct dim
            # values of the matching rollup cells.  AVG(DISTINCT x)
            # re-derives as sum_distinct/countDistinct over that set.
            # x may be a plain column or a whitelisted expression over
            # one; other distinct aggs and arbitrary expressions refuse.
            if kind in ("min", "max") and len(fkids) == 1 \
                    and _cls(an) == "AttributeReference":
                # MIN/MAX(DISTINCT x) IS MIN/MAX(x): dedup cannot
                # change an extremum — route to the plain measure
                return ("measure", Measure(kind, self._resolve(an)[1]))
            if kind not in ("count", "sum", "avg") or len(fkids) != 1:
                raise _Unsupported("distinct aggregate")
            if kind == "avg" and str(
                    an.get("dataType", "")).startswith("decimal"):
                # same refusal as plain AVG: double re-division
                # rounds differently than native decimal avg
                raise _Unsupported("avg(distinct) over decimal")
            key = self._dim_key(an, ak)
            if kind == "avg" and key[0] not in (
                    "col", "year", "month", "quarter"):
                # fn nodes carry no dataType in the IR, so the decimal
                # guard above can't see e.g. abs(decimal); temporal fns
                # are provably integer-valued, other expression keys
                # refuse for avg only (count/sum distinct keep the
                # expression's native dtype)
                raise _Unsupported("avg(distinct) over expression")
            return ("cdistinct", (kind, key))
        if kind == "avg":
            if (_cls(an) != "AttributeReference" and len(fkids) == 1):
                # AVG over a whitelisted PROVABLY-INTEGER expression dim
                # (`avg(year(d))`, `avg(length(c))`): count-weighting
                # over the dim grain is exact — Σ f(cell)·count(cell) /
                # Σ count(cell) over non-null-f cells equals the base
                # double division bit-for-bit (integer f, exact sums).
                # Dtype-blind fns (abs/floor/ceil could be decimal) and
                # string fns refuse.
                key = self._dim_key(an, ak)
                if key[0] not in ("year", "month", "quarter", "length"):
                    raise _Unsupported("avg over expression")
                self.condagg_cols.append(_dim_base(key))
                return ("avgexpr", key)
            # reduce avg(x) -> sum(x)/count(x); decimal inputs refuse
            # (the materialized decimal(28,4) sum divided back would
            # round differently than native decimal avg)
            if (_cls(an) != "AttributeReference" or len(fkids) != 1
                    or str(an.get("dataType", "")).startswith(
                        "decimal")):
                raise _Unsupported("avg outside plain-column form")
            return ("avg", self._resolve(an)[1])
        if _cls(an) == "Literal" and kind == "count":
            if an.get("value") is None:
                raise _Unsupported("count(null)")
            return ("measure", Measure("count", "*"))
        if _cls(an) == "CaseWhen" and kind in ("sum", "min", "max",
                                               "count"):
            # CONDITIONAL aggregation (the pivot/BI shape:
            # sum(case when d = 'x' then v else 0 end)): when every
            # branch predicate references only stored dims, the
            # predicate is CONSTANT within each rollup cell and the
            # aggregate reduces exactly to a CASE over cell partials —
            # see _ca_sql.  The reference's substitution covers this
            # through Calcite's SubstitutionVisitor expression
            # unification (SubstitutionProvider.java:40).
            return ("condagg", self._condagg(kind, an, ak))
        if _cls(an) == "AttributeReference" and (
                kind != "count" or len(fkids) == 1):
            # count(col) is NULL-AWARE: it matches a per-column count
            # measure (count_<col>), never count(*); the multi-arg
            # count(a,b) form refuses
            return ("measure", Measure(kind, self._resolve(an)[1]))
        if len(fkids) == 1:
            # arithmetic measure expression (e.g. the TPC-H revenue
            # sum(price * (1 - disc))): matches a reflection that
            # declared the identical canonical expression
            return ("measure", Measure(kind, _canon_arith(
                an, ak, lambda a: self._resolve(a)[1])))
        raise _Unsupported("aggregate over expression")

    def _condagg(self, kind: str, node, kids) -> tuple:
        """Canonicalize sum/min/max/count over a CaseWhen whose branch
        predicates reference only (stored-dim) columns.  Payload:
        (kind, ((pred_sql, val), ...), else_val) with val one of
        ("col", base_col) | ("lit", sql) | ("null",).  Every column a
        predicate touches is recorded in self.condagg_cols — it rides
        AggQuery.dims so covers() requires it stored at dim grain."""
        pairs = list(kids)
        els = pairs.pop() if len(pairs) % 2 == 1 else None
        if not pairs:
            raise _Unsupported("CASE without branches")
        branches = []
        for i in range(0, len(pairs), 2):
            cn, ck = pairs[i]
            pred = self._render_pred(cn, ck)
            self._collect_pred_cols(cn, ck)
            branches.append((pred, self._condagg_val(kind, *pairs[i + 1])))
        else_val = (self._condagg_val(kind, *els) if els is not None
                    else ("null",))
        return (kind, tuple(branches), else_val)

    def _condagg_val(self, kind: str, node, kids) -> tuple:
        """One CASE branch value: a plain column (numeric-widening casts
        strip — the partial re-aggregation commutes with them), a
        renderable literal (numeric-only for SUM/COUNT, whose cell form
        multiplies/counts rows), or NULL."""
        node, kids = self._strip_col_cast(node, kids)
        if _cls(node) == "AttributeReference":
            return ("col", self._resolve(node)[1])
        if _cls(node) == "Literal":
            if node.get("value") is None:
                return ("null",)
            if kind in ("sum", "count") and not (
                    str(node.get("dataType")) in self._POST_LIT
                    or str(node.get("dataType")).startswith("decimal")):
                raise _Unsupported("non-numeric conditional-agg literal")
            return ("lit", self._render_literal(node))
        if _cls(node) == "Multiply":
            # scaled column (`0.5 * v`): SUM commutes with the scale
            # (ℓ·Σv), COUNT ignores it (ℓ·v is null iff v is), MIN/MAX
            # commute only for a POSITIVE scale (negative flips the
            # extremum — refuse)
            (a, ak2), (b, bk2) = kids
            a, ak2 = self._strip_col_cast(a, ak2)
            b, bk2 = self._strip_col_cast(b, bk2)
            if _cls(a) == "Literal":
                lit, (cn, ckk) = a, (b, bk2)
            elif _cls(b) == "Literal":
                lit, (cn, ckk) = b, (a, ak2)
            else:
                raise _Unsupported("conditional-agg branch value")
            if _cls(cn) != "AttributeReference":
                raise _Unsupported("conditional-agg branch value")
            lit_sql = self._render_literal(lit)
            if kind in ("min", "max") and float(lit_sql) <= 0:
                raise _Unsupported("non-positive scale under min/max")
            return ("scale", lit_sql, self._resolve(cn)[1])
        raise _Unsupported("conditional-agg branch value")

    def _collect_pred_cols(self, node, kids) -> None:
        """Record every base column a CASE predicate references (they
        must be stored reflection dims for the cell-constant reduction
        to hold)."""
        if _cls(node) == "AttributeReference":
            if _attr_id(node) in self.expr_alias:
                self.condagg_cols.append(
                    _dim_base(self._dim_key(node, kids)))
            else:
                self.condagg_cols.append(self._resolve(node)[1])
        for kk in kids:
            self._collect_pred_cols(*kk)

    _POST_BIN = {"Add": "+", "Subtract": "-", "Multiply": "*",
                 "Divide": "/"}
    _POST_LIT = {"integer", "long", "short", "byte", "double", "float"}

    def _post_expr(self, node, kids) -> tuple:
        """Canonicalize a POST-AGGREGATION arithmetic expression
        (sum(a)/sum(b), 100*count(x)/count(*), sum(x)+g): a tree of
        +,-,*,/ and casts whose leaves are aggregate expressions,
        grouped dims, or numeric literals.  Re-applied over the
        rollup's re-aggregated partials at substitution."""
        c = _cls(node)
        if c == "Cast":
            return ("cast", str(node.get("dataType")),
                    self._post_expr(*kids[0]))
        if c in self._POST_BIN:
            return ("bin", self._POST_BIN[c],
                    self._post_expr(*kids[0]),
                    self._post_expr(*kids[1]))
        if c == "UnaryMinus":
            return ("neg", self._post_expr(*kids[0]))
        if c == "Literal":
            v, dt = node.get("value"), node.get("dataType")
            if v is None or not (dt in self._POST_LIT
                                 or str(dt).startswith("decimal")):
                raise _Unsupported("non-numeric post-agg literal")
            return ("lit", str(v), str(dt))
        if c == "AggregateExpression":
            # every aggregate shape splices as a post-agg leaf: plain
            # measures, reduced AVG, conditional aggs, distinct aggs,
            # and count-weighted avg-over-expression-dims (each leaf's
            # rollup column is computed via its own channel)
            return ("agg",) + self._classify_agg(node, kids)
        if c == "CaseWhen":
            # CASE WHEN over aggregate outputs (`CASE WHEN count(*)>0
            # THEN sum(x)/count(*) END` — the guarded-ratio shape BI
            # tools emit): the aggregate leaves roll up through their
            # own channels; the CASE re-applies over the re-aggregated
            # partials.  Children alternate (cond, value) per branch,
            # odd trailing child is the ELSE.
            n_branch = len(kids) // 2
            branches = [
                (self._post_pred(*kids[2 * i]),
                 self._post_expr(*kids[2 * i + 1]))
                for i in range(n_branch)
            ]
            els = (self._post_expr(*kids[-1])
                   if len(kids) % 2 else None)
            return ("case", branches, els)
        # a group dim: plain column, whitelisted expression, or a
        # projection alias of one — anything else refuses inside
        return ("dim", self._dim_key(node, kids))

    _POST_CMP = {
        "EqualTo": "=", "GreaterThan": ">", "LessThan": "<",
        "GreaterThanOrEqual": ">=", "LessThanOrEqual": "<=",
    }

    def _post_pred(self, node, kids) -> tuple:
        """Canonicalize a predicate over POST-AGGREGATION expressions
        (a CASE WHEN condition): comparisons / boolean combinators /
        null tests whose operands are `_post_expr` trees.  Re-applied
        verbatim over the rollup's re-aggregated partials — sound
        because every operand value is identical there by the same
        argument as the post-agg arithmetic itself."""
        c = _cls(node)
        if c in self._POST_CMP:
            return ("cmp", self._POST_CMP[c],
                    self._post_expr(*kids[0]),
                    self._post_expr(*kids[1]))
        if c in ("And", "Or"):
            return (c.lower(), self._post_pred(*kids[0]),
                    self._post_pred(*kids[1]))
        if c == "Not":
            return ("not", self._post_pred(*kids[0]))
        if c == "IsNull":
            return ("isnull", self._post_expr(*kids[0]))
        if c == "IsNotNull":
            return ("isnotnull", self._post_expr(*kids[0]))
        raise _Unsupported(f"post-agg predicate {c}")

    def _walk_expand(self, node, kids) -> list[tuple[int, tuple]]:
        """Parse a grouping-sets Expand: walk the real source below it,
        then alias each grouping output attr to its base column (taken
        from any projection row where that position carries the
        attribute rather than a null literal) and read each row's
        presence mask + grouping-id literal.  The synthetic
        spark_grouping_id attr maps to None, so any output or HAVING
        referencing it (grouping()/grouping_id() calls) refuses."""
        self._walk_source(*kids[0])
        out_exprs = [_expr(o) for o in node["output"]]
        rows = node["projections"]
        if not rows or not out_exprs:
            raise _Unsupported("empty expand")
        gid_attr, _gk = out_exprs[-1]
        if gid_attr.get("name") != "spark_grouping_id":
            raise _Unsupported("expand without grouping id")
        # positions: [passthrough child cols][n_g grouping attrs][gid];
        # grouping attrs are BRAND-NEW ids minted by Expand (absent from
        # the env the child walk built), passthrough cols are known ids
        n_g = 0
        for a, _k in reversed(out_exprs[:-1]):
            if _attr_id(a) not in self.env:
                n_g += 1
            else:
                break
        if not n_g:
            raise _Unsupported("expand with no grouping columns")
        prefix = len(out_exprs) - 1 - n_g
        for j in range(n_g):
            gattr, _k2 = out_exprs[prefix + j]
            src = None
            for row in rows:
                rn, _rk = _expr(row[prefix + j])
                if _cls(rn) == "AttributeReference":
                    src = rn
                    break
            if src is None:
                raise _Unsupported("grouping column absent from all sets")
            self.env[_attr_id(gattr)] = self.env.get(_attr_id(src))
            if _attr_id(src) in self.expr_alias:
                # rollup over a projected dim expression: the grouping
                # attr inherits the alias's recorded expression
                self.expr_alias[_attr_id(gattr)] = \
                    self.expr_alias[_attr_id(src)]
        self.env[_attr_id(gid_attr)] = None  # refuse via _resolve
        # remembered so grouping()/grouping_id() OUTPUTS can classify:
        # within one expanded set the id is a constant, so those
        # outputs splice as per-set literals at match time
        self._gid_attr = _attr_id(gid_attr)
        sets: list[tuple[int, tuple]] = []
        for row in rows:
            if len(row) != len(out_exprs):
                raise _Unsupported("ragged expand projection")
            lit, _lk = _expr(row[-1])
            if _cls(lit) != "Literal":
                raise _Unsupported("non-literal grouping id")
            mask = tuple(
                _cls(_expr(row[prefix + j])[0]) == "AttributeReference"
                for j in range(n_g))
            sets.append((int(lit["value"]), mask))
        return sets

    def _resolve(self, attr_node) -> tuple[str, str]:
        got = self.env.get(_attr_id(attr_node))
        if not got or got[0] is None:
            raise _Unsupported(f"unresolvable column {attr_node.get('name')}")
        t, c = got
        prev = self.qualified.setdefault(c, t)
        if prev != t:
            raise _Unsupported(f"ambiguous bare name {c}")
        return got

    @staticmethod
    def _strip_temporal_cast(node, kids):
        """Inside year/month/quarter/trunc, analysis wraps the column in
        date/timestamp coercion casts — value-equivalent for those
        extractors.  Other cast targets (a user's value-changing cast)
        stay and refuse."""
        while (_cls(node) == "Cast" and node.get("dataType")
               in ("date", "timestamp", "timestamp_ntz", "timestamp_ltz")):
            node, kids = kids[0]
        return node, kids

    def _dim_key(self, node, kids) -> tuple:
        """Canonicalize one group-by key (see DimKey above); anything
        outside the fragment refuses — including a CAST group key, which
        is non-injective in general (grouping by cast(x as int) is not
        grouping by x)."""
        c = _cls(node)
        if c == "AttributeReference":
            aliased = self.expr_alias.get(_attr_id(node))
            if aliased is not None:
                # a projection alias of a dim expression: canonicalize
                # the recorded expression (lazy — env is complete now)
                return self._dim_key(*aliased)
            return ("col",) + self._resolve(node)
        if c in ("Year", "Month", "Quarter") and kids:
            an, _ak = self._strip_temporal_cast(*kids[0])
            if _cls(an) != "AttributeReference":
                raise _Unsupported("temporal fn over expression")
            return (c.lower(),) + self._resolve(an)
        if c in ("TruncDate", "TruncTimestamp") and len(kids) == 2:
            # TruncDate(date, fmt) vs TruncTimestamp(fmt, ts)
            val, fmt = (kids[0], kids[1]) if c == "TruncDate" \
                else (kids[1], kids[0])
            an, _ak = self._strip_temporal_cast(*val)
            fn, _fk = fmt
            if _cls(an) != "AttributeReference" or _cls(fn) != "Literal" \
                    or fn.get("dataType") != "string":
                raise _Unsupported("trunc outside column+literal form")
            kind = "trunc" if c == "TruncDate" else "dtrunc"
            return (kind, str(fn["value"]).lower()) + self._resolve(an)
        if c in _PURE_FN_CLASSES and len(kids) == 1:
            # pure unary fn over a BARE column only: an implicit cast
            # under the fn (upper(int_col)) means the analyzer coerced
            # the argument, and re-applying the fn over the stored
            # column would coerce differently — refuse those
            an, _ak = kids[0]
            if _cls(an) != "AttributeReference":
                raise _Unsupported(f"{c} over expression")
            return (_PURE_FN_CLASSES[c],) + self._resolve(an)
        if c == "Substring" and len(kids) == 3:
            an, _ak = kids[0]
            pos_n, _pk = kids[1]
            len_n, _lk = kids[2]
            if (_cls(an) != "AttributeReference"
                    or _cls(pos_n) != "Literal"
                    or _cls(len_n) != "Literal"):
                raise _Unsupported("substring outside column+literals")
            return (("substr", int(pos_n["value"]), int(len_n["value"]))
                    + self._resolve(an))
        raise _Unsupported("computed group key")

    # -- literals ----------------------------------------------------------
    @staticmethod
    def _strip_cast(node, kids):
        while _cls(node) == "Cast":
            node, kids = kids[0]
        return node, kids

    _NUM_RANK = {"byte": 0, "short": 1, "integer": 2, "long": 3,
                 "decimal": 4, "float": 5, "double": 6}

    @classmethod
    def _strip_col_cast(cls, node, kids):
        """Strip casts that are WIDENING (the direction analysis
        coercion goes): re-rendering the bare column re-introduces the
        same coercion against the literal, so the re-applied filter
        matches the query's rows exactly.  Narrowing casts (value
        truncation before comparison) stay put and refuse."""
        def rank(dt):
            if not isinstance(dt, str):
                return None
            return cls._NUM_RANK.get(dt.split("(", 1)[0])

        def dec(dt):
            m = re.match(r"decimal\((\d+),\s*(-?\d+)\)", dt or "")
            return (int(m.group(1)), int(m.group(2))) if m else None

        while _cls(node) == "Cast":
            tgt = node.get("dataType")
            child, ckids = kids[0]
            src = child.get("dataType")
            rt, rs = rank(tgt), rank(src)
            ok = False
            if rt is not None and rs is not None:
                if rt > rs:
                    ok = True
                elif rt == rs == cls._NUM_RANK["decimal"]:
                    dt_, ds_ = dec(tgt), dec(src)
                    ok = (dt_ is not None and ds_ is not None
                          and dt_[1] >= ds_[1]
                          and dt_[0] - dt_[1] >= ds_[0] - ds_[1])
            elif src == "date" and tgt in ("timestamp", "timestamp_ntz",
                                           "timestamp_ltz"):
                ok = True  # midnight-widening, injective
            elif _cls(child) == "Literal":
                ok = True  # literal coercions always re-render
            if not ok:
                break
            node, kids = child, ckids
        return node, kids

    @staticmethod
    def _render_literal(node) -> str:
        if _cls(node) != "Literal":
            raise _Unsupported("non-literal operand")
        v, dt = node.get("value"), node.get("dataType")
        if v is None:
            raise _Unsupported("null literal")
        if dt == "string":
            if "'" in str(v):
                raise _Unsupported("quoted literal")
            return f"'{v}'"
        if dt == "date":
            if isinstance(v, int):
                d = datetime.date(1970, 1, 1) + datetime.timedelta(days=v)
                return f"'{d.isoformat()}'"
            return f"'{v}'"
        if dt in ("integer", "long", "short", "byte", "double", "float") \
                or str(dt).startswith("decimal"):
            return str(v)
        raise _Unsupported(f"literal type {dt}")

    # -- predicates --------------------------------------------------------
    def _conjuncts(self, expr_root, out: list):
        node, kids = expr_root
        if _cls(node) == "And":
            self._conjuncts(kids[0], out)
            self._conjuncts(kids[1], out)
        else:
            out.append((node, kids))

    def _render_pred(self, node, kids, name_of=None) -> str:
        """Render a conjunct to `col op literal` SQL.  `name_of` maps an
        attribute node to the name to emit (default: the resolved base
        column; HAVING passes a map into the rollup's output names)."""
        res = name_of or (lambda a: self._resolve(a)[1])
        c = _cls(node)
        # literal-side casts are analysis coercions and strip; a cast on
        # the COLUMN side is only stripped when it cannot change which
        # rows match (temporal widenings) — `cast(x as int) = 5` must
        # NOT render as `x = 5` (truncation semantics would be lost on
        # the re-applied filter)
        def col_side(n, k):
            """SQL for the column side: a bare attribute via `res`, or —
            only in the default (WHERE) context — a whitelisted dim
            expression over one (`year(d)`, `substring(c, 1, 3)`),
            rendered against the base column.  HAVING keeps its own
            output-name resolution (`name_of`), where an inner attr id
            never resolves, so expression sides refuse there."""
            if _cls(n) == "AttributeReference":
                if (name_of is None
                        and _attr_id(n) in self.expr_alias):
                    return _dim_sql(self._dim_key(n, k))
                return res(n)
            if name_of is None:
                return _dim_sql(self._dim_key(n, k))
            # HAVING context: arithmetic over aggregate OUTPUTS (the
            # analyzer hoists each aggregate sub-expression into a
            # hidden output and leaves `attr / attr > lit` in the
            # Filter) — render the tree over the resolved output names
            return hav_expr(n, k)

        def hav_expr(n, k) -> str:
            c2 = _cls(n)
            if c2 == "AttributeReference":
                return res(n)
            if c2 in self._POST_BIN:
                return (f"({hav_expr(*k[0])} {self._POST_BIN[c2]} "
                        f"{hav_expr(*k[1])})")
            if c2 == "UnaryMinus":
                return f"(- {hav_expr(*k[0])})"
            if c2 == "Cast":
                return (f"cast({hav_expr(*k[0])} as "
                        f"{n.get('dataType')})")
            if c2 == "Literal":
                return self._render_literal(n)
            if c2 == "CaseWhen":
                # CASE WHEN over hoisted aggregate outputs inside
                # HAVING (`HAVING CASE WHEN count(*)>0 THEN sum(x)/
                # count(*) END > k`): conditions re-render through the
                # predicate walker, values through this expression
                # walker — all against the rollup's output names
                n_b = len(k) // 2
                arms = " ".join(
                    f"when {self._render_pred(*k[2 * i], name_of)} "
                    f"then {hav_expr(*k[2 * i + 1])}"
                    for i in range(n_b))
                els = (f" else {hav_expr(*k[-1])}"
                       if len(k) % 2 else "")
                return f"(case {arms}{els} end)"
            raise _Unsupported("having expression")

        if c in _CMP:
            (ln, lk), (rn, rk) = kids
            ln, lk = self._strip_col_cast(ln, lk)
            rn, rk = self._strip_col_cast(rn, rk)
            op = _CMP[c]
            if _cls(rn) == "Literal":
                return f"{col_side(ln, lk)} {op} {self._render_literal(rn)}"
            if _cls(ln) == "Literal":
                return (f"{col_side(rn, rk)} {_FLIP[op]} "
                        f"{self._render_literal(ln)}")
            raise _Unsupported("predicate without literal side")
        if c == "In":
            (vn, vk), *items = kids
            vn, vk = self._strip_col_cast(vn, vk)
            vals = [self._render_literal(self._strip_cast(n, k)[0])
                    for n, k in items]
            return f"{col_side(vn, vk)} in ({', '.join(vals)})"
        if c == "Or":
            (ln2, lk2), (rn2, rk2) = kids
            return (f"({self._render_pred(ln2, lk2, name_of)} or "
                    f"{self._render_pred(rn2, rk2, name_of)})")
        if c == "Not":
            return f"(not {self._render_pred(*kids[0], name_of)})"
        if c == "And":
            # nested AND under an OR/NOT (top-level ANDs were already
            # split into separate conjuncts by _iter_conj)
            (ln2, lk2), (rn2, rk2) = kids
            return (f"({self._render_pred(ln2, lk2, name_of)} and "
                    f"{self._render_pred(rn2, rk2, name_of)})")
        if c in ("IsNull", "IsNotNull"):
            vn, vk = self._strip_col_cast(*kids[0])
            suffix = "is null" if c == "IsNull" else "is not null"
            return f"{col_side(vn, vk)} {suffix}"
        if c == "Like":
            # default escape only: a custom ESCAPE char changes which
            # rows match and the rendered form would drop it
            if str(node.get("escapeChar", "\\")) not in ("\\", "None"):
                raise _Unsupported("LIKE with custom escape")
            (vn, vk), (pn, _pk) = kids
            vn, vk = self._strip_col_cast(vn, vk)
            return f"{col_side(vn, vk)} like {self._render_literal(pn)}"
        if c == "Between":
            # RuntimeReplaceable: its single tree child is a With/
            # CommonExpressionRef expansion, but the node embeds the
            # original input/lower/upper as self-contained expression
            # arrays — render `(x >= lo and x <= hi)` from those
            inn = _expr(node["input"])
            lo_n, _lk3 = self._strip_cast(*_expr(node["lower"]))
            up_n, _uk3 = self._strip_cast(*_expr(node["upper"]))
            if _cls(lo_n) != "Literal" or _cls(up_n) != "Literal":
                raise _Unsupported("BETWEEN without literal bounds")
            cs = col_side(*self._strip_col_cast(*inn))
            return (f"({cs} >= {self._render_literal(lo_n)} and "
                    f"{cs} <= {self._render_literal(up_n)})")
        raise _Unsupported(f"predicate {c}")

    def _edge(self, jt: str, expr_root, right_tables: frozenset,
              out: list):
        """Join condition: conjunction of column equalities only.  For a
        LEFT edge, exactly one endpoint must live on the null-extended
        (right) table and the other on a non-nullable table; inner-join
        conditions over nullable columns refuse (they would implicitly
        drop null-extended rows, which the unordered edge set cannot
        express)."""
        for node, kids in self._iter_conj(expr_root):
            if _cls(node) != "EqualTo":
                raise _Unsupported("non-equi join condition")
            (ln, lk), (rn, rk) = kids
            ln, _ = self._strip_cast(ln, lk)
            rn, _ = self._strip_cast(rn, rk)
            if (_cls(ln) != "AttributeReference"
                    or _cls(rn) != "AttributeReference"):
                raise _Unsupported("join condition on expressions")
            a, b = self._resolve(ln), self._resolve(rn)
            if jt in ("left", "full"):
                in_right = (a[0] in right_tables, b[0] in right_tables)
                if in_right == (True, True) or in_right == (False, False):
                    raise _Unsupported("left-join condition sides")
                preserved = a if in_right[1] else b
                if preserved[0] in self.nullable:
                    raise _Unsupported("left join keyed off nullable dim")
            else:
                if a[0] in self.nullable or b[0] in self.nullable:
                    raise _Unsupported("inner join over nullable dim")
            out.append((jt, a, b))

    def _iter_conj(self, expr_root):
        out: list = []
        self._conjuncts(expr_root, out)
        return out

    # -- top half ----------------------------------------------------------
    def extract(self) -> ExtractedAgg:
        node, kids = self.root
        order_raw = None
        limit = None
        renames: list[tuple[str, int]] | None = None  # (out_name, exprId)
        post_agg_filters: list = []  # HAVING: Filter(s) above the Aggregate
        # peel [Limit?] [Project?] [Sort?] [Filter?(HAVING)] down to the
        # Aggregate
        while True:
            c = _cls(node)
            if c in ("GlobalLimit", "LocalLimit") and order_raw is None:
                # GlobalLimit(LocalLimit(Sort(...))): both carry the
                # same literal; capture once, peel both
                le, _lk = _expr(node["limitExpr"])
                if _cls(le) != "Literal":
                    raise _Unsupported("non-literal limit")
                if limit is not None and limit != int(le["value"]):
                    raise _Unsupported("mismatched limit pair")
                limit = int(le["value"])
                node, kids = kids[0]
            elif c == "Sort" and order_raw is None:
                order_raw = node["order"]
                node, kids = kids[0]
            elif c == "Project" and renames is None:
                renames = []
                for item in node["projectList"]:
                    top, tkids = _expr(item)
                    if _cls(top) == "AttributeReference":
                        renames.append((top["name"], _attr_id(top)))
                    elif (_cls(top) == "Alias"
                          and _cls(tkids[0][0]) == "AttributeReference"):
                        renames.append((top["name"],
                                        _attr_id(tkids[0][0])))
                    else:
                        raise _Unsupported("top-level computed column")
                node, kids = kids[0]
            elif c == "Filter" and _cls(kids[0][0]) in ("Aggregate",
                                                        "Distinct"):
                post_agg_filters.append(_expr(node["condition"]))
                node, kids = kids[0]
            else:
                break
        if _cls(node) == "Distinct":
            # SELECT DISTINCT a, b ≡ GROUP BY a, b with no measures —
            # synthesize the Aggregate shape from the child projection
            inner, ikids = kids[0]
            if _cls(inner) != "Project":
                raise _Unsupported("distinct without projection")
            grouping = []
            for it in inner["projectList"]:
                top = it[0]
                if _cls(top) == "AttributeReference":
                    grouping.append(it)
                elif _cls(top) == "Alias" and len(it) == 2 \
                        and _cls(it[1]) == "AttributeReference":
                    grouping.append(it[1:])  # the aliased attr itself
                else:
                    raise _Unsupported("distinct over expression")
            node = {
                "class": "synthetic.Aggregate",
                "groupingExpressions": grouping,
                "aggregateExpressions": inner["projectList"],
            }
            kids = [ikids[0]]
        elif _cls(node) != "Aggregate":
            raise _Unsupported("no aggregate")
        agg = node
        grouping_sets = None
        if _cls(kids[0][0]) == "Expand":
            # GROUP BY ROLLUP / CUBE / GROUPING SETS: the analyzer plans
            # Aggregate(dims..., spark_grouping_id) over Expand, whose
            # projections replicate each input row once per grouping
            # set with absent dims nulled and a grouping-id literal
            # appended.  Extract the sets as (gid, presence mask);
            # substitution computes each set as its own rollup of the
            # materialization and unions — the per-set algebra is
            # exactly the single-group-by case (mirrors the reference's
            # MaterializationExpander handling of rollup queries).
            grouping_sets = self._walk_expand(*kids[0])
        else:
            self._walk_source(*kids[0])
        if len(self.tables) != len(set(self.tables)):
            raise _Unsupported("self-join")

        # group-by dims: plain columns + whitelisted temporal expressions
        dims: list[tuple] = []
        for g in agg["groupingExpressions"]:
            gn, gk = _expr(g)
            if (grouping_sets is not None
                    and _cls(gn) == "AttributeReference"
                    and gn.get("name") == "spark_grouping_id"):
                continue  # synthetic set discriminator, not a dim
            dims.append(self._dim_key(gn, gk))
        if grouping_sets is not None and any(
                len(m) != len(dims) for _g, m in grouping_sets):
            raise _Unsupported("grouping-set arity mismatch")

        # aggregate output list
        outputs: list[tuple[str, str, object, int]] = []
        casts_map: dict[str, str] = {}
        gid_id = getattr(self, "_gid_attr", None)
        for item in agg["aggregateExpressions"]:
            top, tkids = _expr(item)
            if _cls(top) == "AttributeReference":
                if gid_id is not None and _attr_id(top) == gid_id:
                    outputs.append((top["name"], "gid", None,
                                    _attr_id(top)))
                    continue
                outputs.append((top["name"], "dim",
                                self._dim_key(top, []),
                                _attr_id(top)))
                continue
            if _cls(top) != "Alias":
                raise _Unsupported("unaliased output")
            child, ckids = tkids[0]
            cast_to = None  # outermost CAST around the output, if any
            while _cls(child) == "Cast":
                cast_to = cast_to or child.get("dataType")
                child, ckids = ckids[0]
            if cast_to is not None:
                casts_map[top["name"]] = cast_to
            # grouping_id() / grouping(col): expressions over the
            # synthetic grouping-id attr — constant within each
            # expanded set, so they splice as per-set literals
            if (gid_id is not None
                    and _cls(child) == "AttributeReference"
                    and _attr_id(child) == gid_id):
                outputs.append((top["name"], "gid", None,
                                _attr_id(top)))
                continue
            if gid_id is not None and _cls(child) == "BitwiseAnd":
                (ln4, lk4), (rn4, _rk4) = ckids
                if (_cls(ln4) == "ShiftRight"
                        and _cls(rn4) == "Literal"
                        and str(rn4.get("value")) == "1"):
                    (an4, _ak4), (kn4, _kk4) = lk4
                    if (_cls(an4) == "AttributeReference"
                            and _attr_id(an4) == gid_id
                            and _cls(kn4) == "Literal"):
                        outputs.append((top["name"], "gbit",
                                        int(kn4["value"]),
                                        _attr_id(top)))
                        continue
            if _cls(child) != "AggregateExpression":
                try:
                    # a group-by key (plain column or the same temporal
                    # expression the grouping used) projected as output
                    outputs.append((top["name"], "dim",
                                    self._dim_key(child, ckids),
                                    _attr_id(top)))
                except _Unsupported:
                    # post-aggregation arithmetic (sum(a)/sum(b),
                    # 100*count(x)/count(*)): re-applies over the
                    # rollup's re-aggregated partials
                    outputs.append((top["name"], "postexpr",
                                    self._post_expr(child, ckids),
                                    _attr_id(top)))
                continue
            k2, p2 = self._classify_agg(child, ckids)
            outputs.append((top["name"], k2, p2, _attr_id(top)))

        def _post_leaves(p):
            t = p[0]
            if t == "bin":
                yield from _post_leaves(p[2])
                yield from _post_leaves(p[3])
            elif t in ("neg", "cast"):
                yield from _post_leaves(p[-1])
            elif t == "case":
                for pred, val in p[1]:
                    yield from _pred_leaves(pred)
                    yield from _post_leaves(val)
                if p[2] is not None:
                    yield from _post_leaves(p[2])
            else:
                yield p

        def _pred_leaves(pr):
            t = pr[0]
            if t == "cmp":
                yield from _post_leaves(pr[2])
                yield from _post_leaves(pr[3])
            elif t in ("and", "or"):
                yield from _pred_leaves(pr[1])
                yield from _pred_leaves(pr[2])
            elif t == "not":
                yield from _pred_leaves(pr[1])
            else:  # isnull / isnotnull
                yield from _post_leaves(pr[1])

        for _, k, payload, _i in outputs:
            if k == "dim" and payload not in dims:
                raise _Unsupported("non-grouped output column")
            if k == "postexpr":
                for leaf in _post_leaves(payload):
                    if leaf[0] == "dim" and leaf[1] not in dims:
                        raise _Unsupported(
                            "non-grouped column in post-agg expression")

        # filters — a predicate over a null-extended dim's columns
        # refuses: applied post-rollup it would drop null-extended
        # groups, but applied inside the query's own left-join subtree
        # it would NOT drop unmatched fact rows, so the two disagree
        def _refs(n, ks):
            if _cls(n) == "AttributeReference":
                if _attr_id(n) in self.expr_alias:
                    k = self._dim_key(n, ks)
                    yield (k[-2], k[-1])  # (table, base col) of the key
                else:
                    yield self._resolve(n)
            for kk in ks:
                yield from _refs(*kk)

        filt: list[str] = []
        refuse_filter = self.nullable | self.full_tables
        for fe in self.filter_exprs:
            for node2, kids2 in self._iter_conj(fe):
                if any(t in refuse_filter
                       for t, _c in _refs(node2, kids2)):
                    raise _Unsupported("filter on nullable-side column")
                filt.append(self._render_pred(node2, kids2))

        # join edges
        edges: list = []
        for jt, e, rset in self.edges:
            self._edge(jt, e, rset, edges)

        # top projection renames output names / restricts columns
        by_id = {i: (n, k, p) for n, k, p, i in outputs}

        # HAVING: conjuncts over aggregate outputs, rendered against the
        # INTERNAL rollup names (re-applied post-rollup on substitution).
        # Distinct-agg outputs render via their digest-stable __dd_
        # names; every payload HAVING touches is recorded so the rollup
        # still computes it when the top projection drops its output
        having_dd: list[tuple] = []
        having_ca: list[tuple] = []
        having_ae: list[tuple] = []
        having_gid: list[bool] = []

        def having_name(attr):
            got = by_id.get(_attr_id(attr))
            if got is None:
                raise _Unsupported("having on non-output expression")
            _n, k, p = got
            if k == "condagg":
                having_ca.append(p)
                return _ca_name(p)
            if k == "avgexpr":
                having_ae.append(p)
                return _ae_name(p)
            if k == "gid":  # HAVING grouping_id() = n: per-set literal
                having_gid.append(True)
                return "__gs_gid"
            if k == "gbit":
                having_gid.append(True)
                return f"(shiftright(__gs_gid, {p}) & 1)"
            if k == "measure":
                return p.name
            if k == "avg":  # reduced form spliced as an expression
                return f"(cast(sum_{p} as double) / count_{p})"
            if k == "cdistinct":
                dkind, key = p
                having_dd.append(p)
                if dkind == "avg":
                    return (f"(cast({_dd_name(('sum', key))} as double)"
                            f" / {_dd_name(('count', key))})")
                return _dd_name(p)
            if k == "dim" and p[0] == "col":
                return _dim_base(p)
            if k == "dim":
                # expression dim: its rollup alias is position-derived
                # (`__e{i}` over ex.dims) — dims are fully extracted
                # before HAVING, and match-time aliasing enumerates the
                # same list, so the name is stable by construction
                return f"__e{dims.index(p)}"
            if k == "postexpr":
                return _post_sql(p)
            raise _Unsupported("having on expr dim")  # pragma: no cover

        def _post_sql(p) -> str:
            """SQL rendering of a post-agg payload against INTERNAL
            rollup names (the HAVING side of `_post_col`)."""
            t = p[0]
            if t == "bin":
                return f"({_post_sql(p[2])} {p[1]} {_post_sql(p[3])})"
            if t == "neg":
                return f"(- {_post_sql(p[1])})"
            if t == "cast":
                return f"cast({_post_sql(p[2])} as {p[1]})"
            if t == "case":
                arms = " ".join(
                    f"when {_pred_sql(pr)} then {_post_sql(v)}"
                    for pr, v in p[1])
                els = (f" else {_post_sql(p[2])}"
                       if p[2] is not None else "")
                return f"(case {arms}{els} end)"
            if t == "lit":
                return f"cast('{p[1]}' as {p[2]})"
            if t == "dim":
                return (_dim_base(p[1]) if p[1][0] == "col"
                        else f"__e{dims.index(p[1])}")
            k3, p3 = p[1], p[2]
            if k3 == "measure":
                return p3.name
            if k3 == "avg":
                return f"(cast(sum_{p3} as double) / count_{p3})"
            if k3 == "condagg":
                having_ca.append(p3)
                # double arithmetic for SUM-kind decimals (see _post_col)
                return (f"cast({_ca_name(p3)} as double)"
                        if p3[0] == "sum" else _ca_name(p3))
            if k3 == "avgexpr":
                having_ae.append(p3)
                return _ae_name(p3)
            having_dd.append(p3)
            dkind, key = p3
            if dkind == "avg":
                return (f"(cast({_dd_name(('sum', key))} as double)"
                        f" / {_dd_name(('count', key))})")
            return _dd_name(p3)

        def _pred_sql(pr) -> str:
            t = pr[0]
            if t == "cmp":
                return f"({_post_sql(pr[2])} {pr[1]} {_post_sql(pr[3])})"
            if t in ("and", "or"):
                return f"({_pred_sql(pr[1])} {t} {_pred_sql(pr[2])})"
            if t == "not":
                return f"(not {_pred_sql(pr[1])})"
            if t == "isnull":
                return f"({_post_sql(pr[1])} is null)"
            return f"({_post_sql(pr[1])} is not null)"

        havings: list[str] = []
        for fe in post_agg_filters:
            for n2, k2 in self._iter_conj(fe):
                havings.append(self._render_pred(n2, k2,
                                                 name_of=having_name))

        if renames is not None:
            final = []
            new_casts: dict[str, str] = {}
            for out_name, eid in renames:
                if eid not in by_id:
                    raise _Unsupported("projection of non-output column")
                orig, k, p = by_id[eid]
                if orig in casts_map:
                    new_casts[out_name] = casts_map[orig]
                final.append((out_name, k, p, eid))
            outputs = final
            casts_map = new_casts

        # ORDER BY: sort keys are output columns, or HIDDEN aggregate
        # outputs (ORDER BY sum(x) with the sum not projected — the
        # analyzer hoists it into the Aggregate and the top Project
        # drops it; the rollup sorts on a temp column dropped after)
        order: list[tuple] = []
        if order_raw is not None:
            name_of = {i: n for n, _k, _p, i in outputs}
            for o in order_raw:
                on, okids = _expr(o)
                asc, nf = _sort_flags(on)
                child, _ck = okids[0]
                if _cls(child) != "AttributeReference":
                    raise _Unsupported("order by non-output expression")
                aid = _attr_id(child)
                if aid in name_of:
                    order.append((name_of[aid], asc, nf))
                    continue
                got = by_id.get(aid)
                if got is None or got[1] not in ("measure", "avg"):
                    raise _Unsupported("order by non-output expression")
                order.append((None, asc, nf, (got[1], got[2])))

        all_ms: list[Measure] = []
        for _n, k, p in by_id.values():
            if k == "measure":
                all_ms.append(p)
            elif k == "avg":  # reduced form: needs both partials
                all_ms += [Measure("sum", p), Measure("count", p)]
            elif k == "condagg":
                all_ms += _ca_measures(p)
            elif k == "avgexpr":  # count-weighting needs count(*)
                all_ms.append(Measure("count", "*"))
            elif k == "postexpr":
                # every aggregate leaf must roll up; distinct-agg
                # leaves ride the extra_cdistincts channel
                for leaf in _post_leaves(p):
                    if leaf[0] != "agg":
                        continue
                    k3, p3 = leaf[1], leaf[2]
                    if k3 == "measure":
                        all_ms.append(p3)
                    elif k3 == "avg":
                        all_ms += [Measure("sum", p3),
                                   Measure("count", p3)]
                    elif k3 == "condagg":
                        # the rollup must compute the __ca_ column and
                        # its underlying partials
                        having_ca.append(p3)
                        all_ms += _ca_measures(p3)
                    elif k3 == "avgexpr":
                        # count-weighted avg leaf: rollup computes the
                        # __ae_ column from the count(*) partial
                        having_ae.append(p3)
                        all_ms.append(Measure("count", "*"))
                    else:
                        having_dd.append(p3)
        if limit is not None and not order:
            # LIMIT without a total ORDER is row-arbitrary; substituting
            # would be technically allowed but trivially surprising —
            # keep it a sound fall-through
            raise _Unsupported("limit without order by")
        return ExtractedAgg(
            tables=frozenset(self.tables),
            edges=edges,
            nullable=frozenset(self.nullable),
            dims=dims,
            filters=tuple(filt),
            outputs=[(n, k, p) for n, k, p, _i in outputs],
            order_by=order,
            limit=limit,
            grouping_sets=(tuple(grouping_sets)
                           if grouping_sets is not None else None),
            havings=tuple(havings),
            all_measures=tuple(all_ms),
            extra_cdistincts=tuple(dict.fromkeys(having_dd)),
            extra_condaggs=tuple(dict.fromkeys(having_ca)),
            extra_avgexprs=tuple(dict.fromkeys(having_ae)),
            having_gid=bool(having_gid),
            condagg_cols=tuple(dict.fromkeys(self.condagg_cols)),
            casts=casts_map,
            qualified=dict(self.qualified),
        )


def relation_names(analyzed_json: str) -> set[str]:
    """Lower-cased name of every relation an analyzed plan reads (each
    one sits under a SubqueryAlias), view bodies and subquery plans
    included."""
    out: set[str] = set()

    def walk(n):
        if isinstance(n, dict):
            if n.get("class", "").endswith(".SubqueryAlias"):
                out.add(n["identifier"]["name"].lower())
            for v in n.values():
                walk(v)
        elif isinstance(n, list):
            for v in n:
                walk(v)

    walk(json.loads(analyzed_json))
    return out


def extract_agg_query(analyzed_json: str,
                      anchors: dict | None = None) -> ExtractedAgg | None:
    """Parse `analyzed().toJSON()` into the canonical aggregate form, or
    None when the plan is outside the matchable fragment.  `anchors`
    maps a view's lower-cased name to the reflection table it stands
    for: that view becomes one leaf instead of being read through."""
    try:
        root = _tree(json.loads(analyzed_json))
        return _Extractor(root, anchors).extract()
    except (_Unsupported, KeyError, ValueError, TypeError, IndexError):
        return None


def to_agg_query(ex: ExtractedAgg, fact: str) -> AggQuery | None:
    """Orient `ex`'s join edges away from `fact` (BFS over the join
    graph), producing the JoinSpec form the store matches: star edges
    AND snowflake chains (dim keyed off another dim, e.g. lineitem →
    supplier → nation) — each edge becomes
    JoinSpec(child_table, parent_col, child_col).  None when the edges
    don't form a tree spanning every table from the fact."""
    adj: dict[str, list[tuple[str, str, str, str]]] = {}
    for jt, (ta, ca), (tb, cb) in ex.edges:
        adj.setdefault(ta, []).append((tb, ca, cb, jt))
        adj.setdefault(tb, []).append((ta, cb, ca, jt))
    if len(ex.edges) != len(ex.tables) - 1:
        return None  # cycle or disconnected: not a join tree
    if fact in ex.nullable:
        return None  # a null-extended table cannot be the fact
    specs: list[JoinSpec] = []
    seen = {fact}
    frontier = [fact]
    while frontier:
        t = frontier.pop(0)
        for other, my_col, their_col, jt in adj.get(t, ()):
            if other in seen:
                continue
            if jt in ("left", "full") and other not in ex.nullable:
                return None  # outer edge oriented against preservation
            specs.append(JoinSpec(other, my_col, their_col,
                                  join_type=jt))
            seen.add(other)
            frontier.append(other)
    if seen != set(ex.tables):
        return None
    # finest grain the query needs per dim column: raw for direct
    # grouping / distinct-agg / conditional-agg use, the temporal fn's
    # grain otherwise — covers() checks this against BY DAY dims
    from .reflections import _GRAIN_RANK

    grain: dict[str, str] = {}

    def _need(col: str, g: str) -> None:
        cur = grain.get(col)
        if cur is None or _GRAIN_RANK.get(g, 0) < _GRAIN_RANK.get(cur, 0):
            grain[col] = g

    for k in ex.dims:
        if k[0] in ("year", "month", "quarter"):
            _need(_dim_base(k), k[0])
        elif k[0] in ("trunc", "dtrunc"):
            _need(_dim_base(k), str(k[1]).lower())
        else:  # the column itself, or a non-temporal fn of it
            _need(_dim_base(k), "raw")
    for c in ex.cdistinct_base_cols:
        _need(c, "raw")
    for c in ex.condagg_cols:
        _need(c, "raw")
    return AggQuery(
        table=fact,
        # expression dims match on their BASE column (the reflection
        # must carry it at day-or-finer grain); COUNT/SUM(DISTINCT x)
        # needs x's base column at the materialization's grain: extra
        # dimension; conditional-agg CASE predicates likewise need
        # every referenced column stored (cell-constant reduction)
        dims=tuple(dict.fromkeys(
            list(ex.base_dims) + list(ex.cdistinct_base_cols)
            + list(ex.condagg_cols))),
        measures=ex.measures,
        filters=ex.filters, joins=tuple(specs),
        dim_grain=tuple(sorted(grain.items())))


def _owner_ok(refl, ex: ExtractedAgg) -> bool:
    """Qualified-name check: every bare column the query touches must be
    owned by the SAME table inside the reflection's star (col_owner maps
    name -> owner, None for names duplicated across star tables).  A
    legacy reflection without the map keeps bare-name matching."""
    owner = getattr(refl, "col_owner", None)
    if owner is None or ex.qualified is None:
        return True
    return all(owner.get(n) == t for n, t in ex.qualified.items())


def match_and_execute(store, ex: ExtractedAgg, accept=None):
    """Try every fact orientation against the store; return
    (DataFrame, reflection_name) answered from a materialization, or
    None.  The rollup groups the materialization by the query's own
    keys (including temporal expressions over stored dims), re-rolls
    the partials, and re-shapes to the query's output names/ORDER BY.
    `accept` filters candidates (the engine's per-dataset
    ENABLE/DISABLE AGGREGATE ACCELERATION toggle, SqlAccelToggle)."""
    from pyspark.sql import functions as F

    from .reflections import _ROLLUP, _roll_partial

    refl = None
    for fact in sorted(
            {r.table for r in store._reflections.values()} & ex.tables):
        q = to_agg_query(ex, fact)
        if q is None:
            continue
        refl = store.find_match(
            q, accept=lambda r: _owner_ok(r, ex)
            and (accept is None or accept(r)))
        if refl is not None:
            break
    if refl is None:
        return None
    mat = store.scan_materialization(refl, ex.filters)

    # one rollup shuffle: group by the query keys directly — the
    # materialization rows are at the reflection's (finer) grain, so
    # partial sums/counts re-roll and countDistinct sees full dim values
    internal: dict[tuple, str] = {}
    group_cols = []
    for i, k in enumerate(ex.dims):
        nm = _dim_base(k) if k[0] == "col" else f"__e{i}"
        if k not in internal:
            internal[k] = nm
            group_cols.append(_dim_col(k).alias(nm))
    # distinct aggs re-derive from stored dim values: COUNT(DISTINCT)
    # via countDistinct, SUM(DISTINCT) via sum_distinct, AVG(DISTINCT)
    # as both partials re-divided — all over the dim expression (plain
    # column or temporal fn over a finer-grain stored column), exactly
    # the values the base query would see.  Names are digest-stable
    # (`_dd_name`) so extraction-time HAVING strings resolve here.
    dd_parts: dict[tuple, None] = {}
    for dkind, key in dict.fromkeys(ex.cdistincts):
        if dkind == "avg":
            dd_parts[("sum", key)] = None
            dd_parts[("count", key)] = None
        else:
            dd_parts[(dkind, key)] = None
    aggs = []
    for dkind, key in dd_parts:
        fn = F.countDistinct if dkind == "count" else F.sum_distinct
        aggs.append(fn(_dim_col(key)).alias(_dd_name((dkind, key))))
    # conditional aggregates: CASE over cell partials (predicates are
    # dim-constant within a cell; see _ca_sql)
    for p_ca in ex.condaggs:
        aggs.append(F.expr(_ca_sql(p_ca)).alias(_ca_name(p_ca)))
    # avg over integer expression dims: count-weighted (see _ae_sql)
    ae_keys = tuple(dict.fromkeys(
        tuple(p for _, k, p in ex.outputs if k == "avgexpr")
        + tuple(ex.extra_avgexprs)))
    for key_ae in ae_keys:
        aggs.append(F.expr(_ae_sql(key_ae)).alias(_ae_name(key_ae)))

    def _measure_rollup(m):
        if m.name in mat.columns:
            if m.kind == "ndv":
                # declared APPROX COUNT DISTINCT measure: union the HLL
                # sketch partials, estimate once at the query grain
                # (the reference's NDV-from-reflection rewrite,
                # HyperLogLog.java:28)
                return F.hll_sketch_estimate(
                    F.hll_union_agg(F.col(m.name))).alias(m.name)
            return _roll_partial(m, not ex.dims)
        # no declared partial: covers() admitted a DIM-GRAIN answer —
        # ndv (same distinct set, same default rsd -> bit-identical
        # HLL++ estimate), min/max (multiplicity-blind, null cells
        # skipped on both sides), count(dim) (dim constant per cell ->
        # sum of count(*) over non-null-dim cells; 0 when no cells)
        if m.kind == "ndv":
            return F.approx_count_distinct(m.column).alias(m.name)
        if m.kind in ("min", "max"):
            return _ROLLUP[m.kind](m.column).alias(m.name)
        if m.kind == "count":
            return F.expr(
                f"coalesce(sum(case when {m.col} is not null "
                f"then count_all end), 0)").alias(m.name)
        raise _Unsupported(f"no partial for measure {m.kind}({m.col})")

    aggs += [_measure_rollup(m) for m in ex.measures]
    if ex.grouping_sets is not None:
        # ROLLUP/CUBE/GROUPING SETS: one rollup of the materialization
        # PER SET (absent dims null-extended with the set's own dtype),
        # frames unioned — per-set algebra is exactly the plain case.
        # The grand-total set groups by a constant instead of groupBy()
        # so an EMPTY materialization yields zero rows, matching the
        # base plan (Expand of nothing aggregates to nothing).
        if not aggs:
            raise _Unsupported("grouping sets without aggregates")
        if len(set(ex.dims)) != len(ex.dims):
            # masks are positional; duplicate dim keys would collapse
            # to one rollup alias and mis-null a position
            raise _Unsupported("duplicate dims under grouping sets")
        from functools import reduce as _reduce

        probe = mat.select(*group_cols)
        dtypes = {f.name: f.dataType for f in probe.schema.fields}
        names = [internal[k] for k in dict.fromkeys(ex.dims)]
        agg_names = ([_dd_name(p) for p in dd_parts]
                     + [_ca_name(p) for p in ex.condaggs]
                     + [_ae_name(k) for k in ae_keys]
                     + [m.name for m in ex.measures])
        # grouping()/grouping_id() outputs: constants within a set —
        # each frame carries its set's id as a literal column
        needs_gid = (any(k in ("gid", "gbit")
                         for _, k, _p in ex.outputs)
                     or ex.having_gid)
        if needs_gid:
            agg_names = agg_names + ["__gs_gid"]
        frames = []
        for _gid, mask in ex.grouping_sets:
            g_cols = [_dim_col(k).alias(internal[k])
                      for k, m in zip(ex.dims, mask) if m]
            if not g_cols:
                g_cols = [F.lit(1).alias("__gs_all")]
            fset = mat.groupBy(*g_cols).agg(*aggs)
            for k, m in zip(ex.dims, mask):
                if not m:
                    fset = fset.withColumn(
                        internal[k],
                        F.lit(None).cast(dtypes[internal[k]]))
            if needs_gid:
                fset = fset.withColumn(
                    "__gs_gid", F.lit(int(_gid)).cast("bigint"))
            frames.append(fset.select(*names, *agg_names))
        df = _reduce(lambda a, b: a.unionByName(b), frames)
    elif aggs:
        df = mat.groupBy(*group_cols).agg(*aggs)
    else:  # pure GROUP BY / DISTINCT over dims
        df = mat.select(*group_cols).distinct()
    for h in ex.havings:  # HAVING re-applies on the rolled-up names
        df = df.where(h)
    def _post_col(p):
        """Column rendering of a post-agg payload over the rollup."""
        import operator as _op

        t = p[0]
        if t == "bin":
            fn = {"+": _op.add, "-": _op.sub,
                  "*": _op.mul, "/": _op.truediv}[p[1]]
            return fn(_post_col(p[2]), _post_col(p[3]))
        if t == "neg":
            return -_post_col(p[1])
        if t == "cast":
            return _post_col(p[2]).cast(p[1])
        if t == "case":
            col = None
            for pr, v in p[1]:
                col = (F.when(_pred_col(pr), _post_col(v)) if col is None
                       else col.when(_pred_col(pr), _post_col(v)))
            return (col.otherwise(_post_col(p[2]))
                    if p[2] is not None else col)
        if t == "lit":
            return F.expr(f"cast('{p[1]}' as {p[2]})")
        if t == "dim":
            return F.col(internal[p[1]])
        k3, p3 = p[1], p[2]
        if k3 == "measure":
            return F.col(p3.name)
        if k3 == "avg":
            return (F.col(Measure("sum", p3).name).cast("double")
                    / F.col(Measure("count", p3).name))
        if k3 == "condagg":  # computed in the rollup under its __ca_
            # SUM-kind partials are decimal(28,4); arithmetic over them
            # must run in double like the base plan (decimal division
            # truncates the result scale)
            col = F.col(_ca_name(p3))
            return col.cast("double") if p3[0] == "sum" else col
        if k3 == "avgexpr":  # computed in the rollup under its __ae_
            return F.col(_ae_name(p3))
        dkind, key = p3
        if dkind == "avg":
            return (F.col(_dd_name(("sum", key))).cast("double")
                    / F.col(_dd_name(("count", key))))
        return F.col(_dd_name(p3))

    def _pred_col(pr):
        """Boolean rendering of a post-agg CASE predicate."""
        import operator as _op

        t = pr[0]
        if t == "cmp":
            fn = {"=": _op.eq, ">": _op.gt, "<": _op.lt,
                  ">=": _op.ge, "<=": _op.le}[pr[1]]
            return fn(_post_col(pr[2]), _post_col(pr[3]))
        if t == "and":
            return _pred_col(pr[1]) & _pred_col(pr[2])
        if t == "or":
            return _pred_col(pr[1]) | _pred_col(pr[2])
        if t == "not":
            return ~_pred_col(pr[1])
        if t == "isnull":
            return _post_col(pr[1]).isNull()
        return _post_col(pr[1]).isNotNull()

    cols = []
    for out_name, kind, payload in ex.outputs:
        if kind == "cdistinct":
            dkind, key = payload
            if dkind == "avg":
                col = (F.col(_dd_name(("sum", key))).cast("double")
                       / F.col(_dd_name(("count", key))))
            else:
                col = F.col(_dd_name(payload))
        elif kind == "dim":
            col = F.col(internal[payload])
        elif kind == "avg":  # sum/count reduction, double arithmetic
            col = (F.col(Measure("sum", payload).name).cast("double")
                   / F.col(Measure("count", payload).name))
        elif kind == "postexpr":
            col = _post_col(payload)
        elif kind == "condagg":
            col = F.col(_ca_name(payload))
        elif kind == "avgexpr":
            col = F.col(_ae_name(payload))
        elif kind == "gid":  # per-set literal carried by each frame
            col = F.col("__gs_gid")
        elif kind == "gbit":  # grouping(col): one bit of the set id
            col = F.shiftright(F.col("__gs_gid"),
                               int(payload)).bitwiseAND(F.lit(1))
        else:
            col = F.col(payload.name)
        cast_to = (ex.casts or {}).get(out_name)
        if cast_to:
            col = col.cast(cast_to)  # match the unaccelerated dtype
        cols.append(col.alias(out_name))
    # hidden aggregate sort keys ride the select as temp columns and
    # drop after the sort (select-after-orderBy preserves row order)
    extra: list[str] = []
    sort_keys = []
    for ent in ex.order_by or ():
        n, asc, nf = ent[0], ent[1], ent[2]
        if n is not None:
            sort_keys.append(_sort_col(F.col(n), asc, nf))
            continue
        k3, p3 = ent[3]
        hcol = (F.col(p3.name) if k3 == "measure"
                else F.col(Measure("sum", p3).name).cast("double")
                / F.col(Measure("count", p3).name))
        nm = f"__ord{len(extra)}"
        extra.append(nm)
        cols.append(hcol.alias(nm))
        sort_keys.append(_sort_col(F.col(nm), asc, nf))
    df = df.select(*cols)
    if sort_keys:
        df = df.orderBy(*sort_keys)
    if extra:
        df = df.drop(*extra)
    if ex.limit is not None:
        # sort+limit plans as TakeOrderedAndProject over the rollup —
        # the same top-N short-circuit the unaccelerated plan gets
        df = df.limit(ex.limit)
    return df, refl.name


@dataclass
class ExtractedScan:
    """Canonical form of a matchable non-aggregate scan query (for RAW
    reflection substitution: the reference swaps the SCAN of arbitrary
    queries for a raw materialization when the projected + filtered
    columns are covered)."""

    table: str
    filters: tuple[str, ...]
    outputs: list[tuple[str, str]]       # (out_name, base column)
    order_by: list[tuple[str, bool, bool]]  # (base col, asc, nulls_first)
    limit: int | None

    @property
    def needed_cols(self) -> set[str]:
        """Base columns the raw materialization must carry: outputs,
        sort keys, and every identifier a filter references — minus
        keywords and the whitelisted dim-expression functions WHEN
        APPLIED (`year(l_shipdate) = 1995` needs l_shipdate, not
        "year", but a bare `year = 1995` references a COLUMN named
        year and the materialization must carry it; raw reflections
        store rows verbatim, so any rendered filter over covered
        columns re-applies soundly)."""
        import re as _re

        from .reflections import _DIM_FN_CALL_RE

        non_cols = {
            "and", "or", "not", "in", "is", "null", "true", "false",
            "between", "like", "date", "timestamp",
        }
        cols = {c for _, c in self.outputs}
        cols |= {c for c, _a, _n in self.order_by}
        for f in self.filters:
            stripped = _re.sub(r"'[^']*'", "", f)
            stripped = _DIM_FN_CALL_RE.sub("(", stripped)
            for ident in _re.findall(r"[A-Za-z_]\w*", stripped):
                if ident.lower() not in non_cols:
                    cols.add(ident)
        return cols


class _ScanExtractor(_Extractor):
    def extract_scan(self) -> ExtractedScan:
        node, kids = self.root
        limit = None
        order_raw = None
        proj_items = None
        # peel Limit / Sort / top Project in whatever order the analyzer
        # arranged them (ORDER BY on an output alias puts Sort above the
        # Project; on a base column, below it)
        while True:
            c = _cls(node)
            if c == "GlobalLimit" and limit is None:
                le, _lk = _expr(node["limitExpr"])
                if _cls(le) != "Literal":
                    raise _Unsupported("non-literal limit")
                limit = int(le["value"])
            elif c == "LocalLimit":
                pass
            elif c == "Sort" and order_raw is None:
                order_raw = node["order"]
            elif c == "Project" and proj_items is None:
                proj_items = node["projectList"]
            else:
                break
            node, kids = kids[0]
        if _cls(node) == "Aggregate":
            raise _Unsupported("aggregate (use extract_agg_query)")
        if proj_items is None:
            raise _Unsupported("select-star scan (no projection to cover)")
        self._walk_source(node, kids)
        if len(self.tables) != 1:
            raise _Unsupported("raw substitution is single-table")
        if self.edges:
            raise _Unsupported("joins")

        # resolve the projection AFTER the walk built the env; alias
        # exprIds register too so ORDER BY on an output alias resolves
        outputs: list[tuple[str, str]] = []
        for item in proj_items:
            pn, pkids = _expr(item)
            if _cls(pn) == "AttributeReference":
                outputs.append((pn["name"], self._resolve(pn)[1]))
            elif (_cls(pn) == "Alias"
                  and _cls(pkids[0][0]) == "AttributeReference"):
                base = self._resolve(pkids[0][0])
                outputs.append((pn["name"], base[1]))
                self.env[_attr_id(pn)] = base
            else:
                raise _Unsupported("computed projection")

        filt: list[str] = []
        for fe in self.filter_exprs:
            for n2, k2 in self._iter_conj(fe):
                filt.append(self._render_pred(n2, k2))

        order: list[tuple[str, bool, bool]] = []
        if order_raw is not None:
            for o in order_raw:
                on, okids = _expr(o)
                asc, nf = _sort_flags(on)
                child, _ck = okids[0]
                if _cls(child) != "AttributeReference":
                    raise _Unsupported("order by expression")
                order.append((self._resolve(child)[1], asc, nf))

        return ExtractedScan(
            table=self.tables[0], filters=tuple(filt), outputs=outputs,
            order_by=order, limit=limit)


def extract_scan_query(analyzed_json: str,
                       anchors: dict | None = None) -> ExtractedScan | None:
    try:
        root = _tree(json.loads(analyzed_json))
        return _ScanExtractor(root, anchors).extract_scan()
    except (_Unsupported, KeyError, ValueError, TypeError, IndexError):
        return None


def match_and_execute_raw(store, ex: ExtractedScan, accept=None):
    """Answer a scan query from a covering RAW reflection: the
    materialization carries the base columns, so filters/sorts re-apply
    directly and only the narrow sorted files scan.  `accept` filters
    candidates (ENABLE/DISABLE RAW ACCELERATION, SqlAccelToggle)."""
    from pyspark.sql import functions as F

    need = ex.needed_cols
    covering = [
        refl for refl in store._raw.values()
        if (not getattr(refl, "invalid", False)
            and not store.is_expired(refl)
            and refl.table == ex.table and need <= set(refl.cols)
            and (accept is None or accept(refl)))]
    store._note_candidates(covering)
    for refl in covering:
        df = store.scan_materialization(refl, ex.filters)
        if ex.order_by:
            # sort on BASE columns before the projection — the sort
            # key may be a column the final SELECT drops
            df = df.orderBy(*[_sort_col(F.col(c), asc, nf)
                              for c, asc, nf in ex.order_by])
        df = df.select(*[F.col(c).alias(n) for n, c in ex.outputs])
        if ex.limit is not None:
            df = df.limit(ex.limit)
        return df, refl.name
    return None


def extract_union_branches(analyzed_json: str, anchors: dict | None = None
                           ) -> tuple[list, list | None] | None:
    """Top-level UNION ALL of independently-matchable aggregate
    fragments (the stacked-rollup BI shape: two GROUP BYs unioned),
    optionally under an ORDER BY over plain output columns.  Returns
    (one ExtractedAgg per branch, order_spec) where order_spec is
    [(output_name, ascending, nulls_first), ...] or None when no sort
    wraps the union.  Returns None outright when the root shape or any
    branch falls outside the matchable fragment — substitution is
    all-or-nothing so a partially-accelerated union never mixes
    materialized and live semantics in one result."""
    try:
        root = _tree(json.loads(analyzed_json))
    except (KeyError, ValueError, TypeError):
        return None
    node, kids = root
    limit = None
    if _cls(node) == "GlobalLimit":
        # LIMIT peels as the usual GlobalLimit/LocalLimit PAIR carrying
        # the same literal (the leaderboard shape: union + order +
        # limit); a bare/mismatched pair refuses
        gl, _glk = _expr(node["limitExpr"])
        inner, ikids = kids[0]
        if _cls(inner) != "LocalLimit" or _cls(gl) != "Literal":
            return None
        ll, _llk = _expr(inner["limitExpr"])
        if _cls(ll) != "Literal" or ll.get("value") != gl.get("value"):
            return None
        limit = int(gl["value"])
        node, kids = ikids[0]
    order = None
    if _cls(node) == "Sort":
        order = []
        for so_arr in node.get("order") or []:
            try:
                so, so_kids = _expr(so_arr)
            except (ValueError, KeyError, TypeError, IndexError):
                return None
            if not so_kids or _cls(so_kids[0][0]) != "AttributeReference":
                return None  # sort over an expression: out of fragment
            order.append((
                so_kids[0][0]["name"],
                "Ascending" in str(so.get("direction")),
                "NullsFirst" in str(so.get("nullOrdering"))))
        node, kids = kids[0]
    if _cls(node) != "Union" or len(kids) < 2:
        return None
    if limit is not None and order is None:
        return None  # LIMIT without total ORDER: row-arbitrary, refuse
    out = []
    for child in kids:
        try:
            out.append(_Extractor(child, anchors).extract())
        except (_Unsupported, KeyError, ValueError, TypeError,
                IndexError):
            return None
    return out, order, limit
