"""Dataset explore/transform service — the visual curation path behind
the reference UI.

A user opens a table ("new untitled"), chains point-and-click
transforms (rename / drop / extract / replace / split / calculated
field / filter / group-by / join / sort), previews each step, and
finally saves the result as a virtual dataset.  Server-side that is a
chain of immutable DATASET VERSIONS, each holding a declarative
``VirtualDatasetState`` from which SQL is (re)generated.

Reference behavior (behavioral spec only; this is an original
Spark-first implementation):

- ``dac/backend/.../explore/DatasetVersionResource.java`` — the REST
  surface: preview / transformAndPreview / transformPeek / save /
  history / extract-replace-split recommendation cards.
- ``dac/backend/.../explore/Transformer.java`` +
  ``TransformActor.java`` — one visit method per transform type;
  nesting rules (when a transform must wrap the current state in a
  subquery) at ``TransformActor.java:236-906``.
- ``dac/backend/.../explore/DatasetStateMutator.java`` — state
  surgery: ``nest()`` (``:224``, alias ``nested_<i>``), ``apply()``
  (``:279`` — new column takes the dropped source's position),
  ``findColForModification`` (``:339`` — nest first when the column
  is grouped/ordered), ``uniqueColumnName`` (``:102``).
- ``dac/backend/.../explore/SQLGenerator.java`` — state → SQL;
  clause assembly at ``:774-786``, expression visitors ``:798-1136``,
  measure functions ``:842-877``.
- ``dac/backend/src/main/proto/explore.proto`` — the state/transform
  model this module mirrors as plain JSON-friendly dicts
  (``VirtualDatasetState``:364, ``Transform``:581,
  ``TransformType``:561, ``Expression``:210, ``FilterDefinition``:292).

Scale notes: everything here is CATALOG-SIZED driver work — states are
small dicts, SQL generation is string assembly, and the only Spark
jobs are the previews the user explicitly requests (sample-limited,
like the reference's UI_PREVIEW jobs).  The generated SQL is planned
by Catalyst like any other statement, so pushdown/pruning on the
eventual saved VDS is unchanged.
"""

from __future__ import annotations

import copy
import re
import threading
import time
import uuid

from .engine import ConcurrentModificationError
from .localframe import meta_df


class ExploreError(ValueError):
    """Client error in a transform/preview request (HTTP 400)."""


class VersionNotFoundError(KeyError):
    """Unknown dataset version (HTTP 404)."""


_IDENT = re.compile(r"[A-Za-z_][A-Za-z_0-9]*$")


def quote_ident(name: str) -> str:
    """Spark-dialect identifier quoting (SQLGenerator.quoteIdentifier —
    the reference quotes reserved words and non-identifier names)."""
    if _IDENT.match(name) and name.upper() not in _RESERVED:
        return name
    return "`" + name.replace("`", "``") + "`"


_RESERVED = {
    "SELECT", "FROM", "WHERE", "GROUP", "ORDER", "BY", "JOIN", "ON",
    "USER", "TABLE", "LEFT", "RIGHT", "FULL", "INNER", "OUTER", "AND",
    "OR", "NOT", "CASE", "WHEN", "THEN", "ELSE", "END", "AS", "IN",
    "BETWEEN", "LIKE", "NULL", "TRUE", "FALSE", "CAST", "COUNT",
    "SUM", "AVG", "MIN", "MAX", "DATE", "TIME", "TIMESTAMP", "VALUES",
}

# explore.proto DataType:484 → Spark SQL cast targets
_SQL_TYPE = {
    "TEXT": "STRING", "BINARY": "BINARY", "BOOLEAN": "BOOLEAN",
    "FLOAT": "DOUBLE", "INTEGER": "BIGINT", "DECIMAL": "DECIMAL(38,6)",
    "DATE": "DATE", "TIME": "STRING", "DATETIME": "TIMESTAMP",
}

# Spark type name → explore DataType (for sqlFields in responses)
_DATA_TYPE_OF = {
    "string": "TEXT", "binary": "BINARY", "boolean": "BOOLEAN",
    "double": "FLOAT", "float": "FLOAT", "int": "INTEGER",
    "bigint": "INTEGER", "smallint": "INTEGER", "tinyint": "INTEGER",
    "date": "DATE", "timestamp": "DATETIME", "timestamp_ntz": "DATETIME",
}


def data_type_of(spark_type: str) -> str:
    t = spark_type.lower()
    if t.startswith("decimal"):
        return "DECIMAL"
    if t.startswith("array"):
        return "LIST"
    if t.startswith("map") or t.startswith("struct"):
        return "STRUCT" if t.startswith("struct") else "MAP"
    return _DATA_TYPE_OF.get(t, "OTHER")


_NUMERIC_LIT = re.compile(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def _sql_literal(value, data_type: str) -> str:
    """Typed literal for FilterValue/FilterRange bounds
    (SQLGenerator.java:543-616 quotes per DataType).  Values are
    CLIENT-SUPPLIED (filter transforms, replace-values selection
    counts), so non-text literals are validated — a numeric slot must
    BE a number and quoted temporals escape their quotes; anything
    else would interpolate raw into generated SQL."""
    if value is None:
        return "NULL"
    s = str(value)
    if data_type == "BOOLEAN":
        if s.lower() in ("true", "false"):
            return s.lower()
        raise ExploreError(f"bad BOOLEAN literal: {s!r}")
    if data_type in ("INTEGER", "FLOAT", "DECIMAL"):
        if not _NUMERIC_LIT.match(s.strip()):
            raise ExploreError(f"bad {data_type} literal: {s!r}")
        return s.strip()
    esc = s.replace("'", "''")
    if data_type == "DATE":
        return f"DATE '{esc}'"
    if data_type == "DATETIME":
        return f"TIMESTAMP '{esc}'"
    return "'" + esc + "'"


def _regex_literal(pat: str) -> str:
    return "'" + pat.replace("\\", "\\\\").replace("'", "''") + "'"


# --------------------------------------------------------------------------
# Expression → SQL (SQLGenerator's EvaluatingExpressionVisitor :798)
# --------------------------------------------------------------------------

def _col_sql(col: dict) -> str:
    table = col.get("table")
    name = quote_ident(col["name"])
    return f"{quote_ident(table)}.{name}" if table else name


def _extract_rule_sql(rule: dict, operand: str) -> str:
    """ExtractRule (explore.proto:867) → SQL.

    position: 0-based inclusive offsets, each with a direction
    (FROM_THE_START | FROM_THE_END) → SUBSTRING arithmetic.
    pattern: regex with index/indexType (INDEX = n-th match,
    INDEX_BACKWARDS = n-th from the end, CAPTURE_GROUP = group of the
    first match) — the reference evaluates these in its
    extract_pattern UDF; here they compile to regexp_extract_all /
    regexp_extract, which stay whole-stage-codegen JVM expressions."""
    kind = rule["type"]
    if kind == "position":
        pos = rule["position"]
        start, end = pos["startIndex"], pos["endIndex"]

        def off(o, default_dir):
            v = int(o["value"]) if isinstance(o, dict) else int(o)
            d = (o.get("direction", default_dir)
                 if isinstance(o, dict) else default_dir)
            return v, d

        sv, sd = off(start, "FROM_THE_START")
        ev, ed = off(end, "FROM_THE_END"
                     if isinstance(end, dict)
                     and end.get("direction") == "FROM_THE_END"
                     else "FROM_THE_START")
        s_expr = (str(sv + 1) if sd == "FROM_THE_START"
                  else f"LENGTH({operand}) - {sv}")
        e_expr = (str(ev + 1) if ed == "FROM_THE_START"
                  else f"LENGTH({operand}) - {ev}")
        return (f"SUBSTRING({operand}, {s_expr}, "
                f"({e_expr}) - ({s_expr}) + 1)")
    if kind == "pattern":
        pat = rule["pattern"]
        rx = pat["pattern"]
        if pat.get("ignoreCase"):
            rx = "(?i)" + rx
        idx = int(pat.get("index", 0))
        index_type = pat.get("indexType", "INDEX")
        lit = _regex_literal(rx)
        if index_type == "CAPTURE_GROUP":
            return f"REGEXP_EXTRACT({operand}, {lit}, {idx + 1})"
        if index_type == "INDEX_BACKWARDS":
            return (f"ELEMENT_AT(REVERSE(REGEXP_EXTRACT_ALL({operand}, "
                    f"{lit}, 0)), {idx + 1})")
        return (f"ELEMENT_AT(REGEXP_EXTRACT_ALL({operand}, {lit}, 0), "
                f"{idx + 1})")
    raise ExploreError(f"unknown extract rule type: {kind}")


def _pattern_cond_sql(rule: dict, operand: str) -> str:
    """ReplacePatternRule (explore.proto:928) → boolean match SQL."""
    sel = rule["selectionType"]
    if sel == "IS_NULL":
        return f"{operand} IS NULL"
    pat = rule.get("selectionPattern", "")
    if sel == "MATCHES":
        if rule.get("ignoreCase"):
            pat = "(?i)" + pat
        return f"REGEXP_LIKE({operand}, {_regex_literal(pat)})"
    subject = operand
    if rule.get("ignoreCase"):
        subject = f"LOWER({operand})"
        pat = pat.lower()
    lit = "'" + pat.replace("'", "''") + "'"
    if sel == "CONTAINS":
        return f"CONTAINS({subject}, {lit})"
    if sel == "STARTS_WITH":
        return f"STARTSWITH({subject}, {lit})"
    if sel == "ENDS_WITH":
        return f"ENDSWITH({subject}, {lit})"
    if sel == "EXACT":
        return f"{subject} = {lit}"
    raise ExploreError(f"unknown selection type: {sel}")


def _pattern_regex(rule: dict) -> str:
    """The regex that matches the selected fragment (for SELECTION
    replacement via regexp_replace)."""
    sel = rule["selectionType"]
    pat = rule.get("selectionPattern", "")
    esc = re.escape(pat)
    body = {"CONTAINS": esc, "STARTS_WITH": "^" + esc,
            "ENDS_WITH": esc + "$", "EXACT": "^" + esc + "$",
            "MATCHES": pat}.get(sel)
    if body is None:
        raise ExploreError(f"selection type {sel} has no fragment regex")
    if rule.get("ignoreCase"):
        body = "(?i)" + body
    return body


def _split_array_sql(rule: dict, operand: str) -> str:
    pat = rule["pattern"]
    rx = pat if rule.get("matchType") == "regex" else re.escape(pat)
    if rule.get("ignoreCase"):
        rx = "(?i)" + rx
    return f"SPLIT({operand}, {_regex_literal(rx)})"


def _field_transform_sql(ft: dict, operand: str) -> str:
    """FieldTransformation (explore.proto:772) → SQL
    (SQLGenerator's EvaluatingFieldTransformationVisitor :897)."""
    kind = ft["type"]
    if kind == "ConvertCase":
        case = ft["convertCase"]["convertCase"]
        fn = {"LOWER_CASE": "LOWER", "UPPER_CASE": "UPPER",
              "TITLE_CASE": "INITCAP"}[case]
        return f"{fn}({operand})"
    if kind == "Trim":
        tt = ft["trim"]["trimType"]
        fn = {"BOTH": "TRIM", "LEFT": "LTRIM", "RIGHT": "RTRIM"}[tt]
        return f"{fn}({operand})"
    if kind == "Extract":
        return _extract_rule_sql(ft["extract"]["rule"], operand)
    if kind == "ReplacePattern":
        rp = ft["replace"]
        rule, rtype = rp["rule"], rp.get("replaceType", "VALUE")
        repl = rp.get("replacementValue", "")
        if rtype == "SELECTION":
            rx = _pattern_regex(rule)
            lit = "'" + repl.replace("\\", "\\\\").replace("'", "''") + "'"
            return (f"REGEXP_REPLACE({operand}, {_regex_literal(rx)}, "
                    f"{lit})")
        cond = _pattern_cond_sql(rule, operand)
        if rtype == "NULL":
            return f"CASE WHEN {cond} THEN NULL ELSE {operand} END"
        lit = "'" + repl.replace("'", "''") + "'"
        return f"CASE WHEN {cond} THEN {lit} ELSE {operand} END"
    if kind == "ReplaceValue":
        rv = ft["replaceValue"]
        vals = rv.get("replacedValuesList", rv.get("replacedValues", []))
        dt = rv.get("replacementType", "TEXT")
        repl = ("NULL" if rv.get("replaceNull") and not vals
                else _sql_literal(rv.get("replacementValue"), dt))
        conds = []
        if vals:
            in_list = ", ".join(_sql_literal(v, dt) for v in vals)
            conds.append(f"{operand} IN ({in_list})")
        if rv.get("replaceNull"):
            conds.append(f"{operand} IS NULL")
        cond = " OR ".join(conds) if conds else "FALSE"
        return f"CASE WHEN {cond} THEN {repl} ELSE {operand} END"
    if kind == "ReplaceCustom":
        rc = ft["replaceCustom"]
        dt = rc.get("replacementType", "TEXT")
        repl = ("NULL" if rc.get("replaceType") == "NULL"
                else _sql_literal(rc.get("replacementValue"), dt))
        return (f"CASE WHEN {rc['booleanExpression']} THEN {repl} "
                f"ELSE {operand} END")
    if kind == "Split":
        sp = ft["split"]
        arr = _split_array_sql(sp["rule"], operand)
        pos = sp["position"]
        if pos == "FIRST":
            return f"ELEMENT_AT({arr}, 1)"
        if pos == "LAST":
            return f"ELEMENT_AT({arr}, -1)"
        if pos == "INDEX":
            return f"TRY_ELEMENT_AT({arr}, {int(sp['index']) + 1})"
        if pos == "ALL":
            mx = sp.get("maxFields", sp.get("max_fields"))
            return f"SLICE({arr}, 1, {int(mx)})" if mx else arr
        raise ExploreError(f"unknown split position: {pos}")
    if kind == "UnnestList":
        # flatten: handled by the caller via EXPLODE on the column
        return f"EXPLODE({operand})"
    if kind == "SimpleConvertToType":
        dt = ft["simpleConvertToType"]["dataType"]
        return f"CAST({operand} AS {_SQL_TYPE[dt]})"
    if kind == "ConvertToTypeIfPossible":
        c = ft["convertToTypeIfPossible"]
        dt, action = c["desiredType"], c["actionForNonMatchingValue"]
        cast = f"TRY_CAST({operand} AS {_SQL_TYPE[dt]})"
        if action == "REPLACE_WITH_DEFAULT":
            dflt = _sql_literal(c.get("defaultValue"), dt)
            return f"COALESCE({cast}, {dflt})"
        return cast  # REPLACE_WITH_NULL; DELETE_RECORDS adds a filter
    if kind == "ConvertToJSON":
        return f"TO_JSON(STRUCT({operand}))"
    if kind == "ConvertFromJSON":
        # schema discovery happens at preview; keep the raw parse here
        return f"FROM_JSON({operand}, 'STRING')"
    if kind == "ConvertListToText":
        delim = ft.get("listToText", {}).get("delimiter", ",")
        lit = "'" + delim.replace("'", "''") + "'"
        return f"ARRAY_JOIN(TRANSFORM({operand}, x -> CAST(x AS STRING)), {lit})"
    if kind == "ConvertFloatToInteger":
        mode = ft["floatToInteger"]["rounding"]
        fn = {"FLOOR": "FLOOR", "CEILING": "CEILING",
              "ROUND": "ROUND"}[mode]
        return f"CAST({fn}({operand}) AS BIGINT)"
    if kind == "ConvertFloatToDecimal":
        scale = int(ft["floatToDecimal"].get("roundingDecimalPlaces", 2))
        return f"CAST({operand} AS DECIMAL(38,{scale}))"
    if kind == "ConvertDateToText":
        fmt = ft["dateToText"]["format"]
        return f"DATE_FORMAT({operand}, '{fmt}')"
    if kind == "ConvertTextToDate":
        fmt = ft["textToDate"]["format"]
        dt = ft["textToDate"].get("desiredType", "DATE")
        if dt == "DATE":
            return f"TO_DATE({operand}, '{fmt}')"
        return f"TO_TIMESTAMP({operand}, '{fmt}')"
    if kind == "ReplaceRange":
        # SQLGenerator.visit(FieldReplaceRange) :1136 — bounds quoted
        # as the replacement's type; both-bounds-null degenerates to
        # replace-everything (modulo keepNull / NULL replacement)
        rr = ft["replaceRange"]
        dt = rr.get("replacementType", "TEXT")
        repl = ("NULL" if (rr.get("replaceType") == "NULL"
                           or rr.get("replacementValue") is None)
                else _sql_literal(rr.get("replacementValue"), dt))
        lo, hi = rr.get("lowerBound"), rr.get("upperBound")
        if lo is None and hi is None:
            if repl == "NULL":
                # projecting bare NULL loses the column type; the
                # never-true branch keeps the operand's type
                return f"CASE WHEN 1 = 0 THEN {operand} ELSE NULL END"
            if rr.get("keepNull"):
                return (f"CASE WHEN {operand} IS NOT NULL "
                        f"THEN {repl} ELSE NULL END")
            return repl
        conds = []
        if lo is not None:
            cmp_ = "<=" if rr.get("lowerBoundInclusive") else "<"
            conds.append(f"{_sql_literal(lo, dt)} {cmp_} {operand}")
        if hi is not None:
            cmp_ = ">=" if rr.get("upperBoundInclusive") else ">"
            conds.append(f"{_sql_literal(hi, dt)} {cmp_} {operand}")
        return (f"CASE WHEN {' AND '.join(conds)} THEN {repl} "
                f"ELSE {operand} END")
    if kind == "ExtractMap":
        # ExtractMapRecommender.getFunctionExpr :75 — a JSON path over
        # a struct/map column; bracket form works for both in Spark
        return operand + _json_path_sql(ft["extractMap"]["rule"]["path"])
    if kind == "ExtractList":
        rule = ft["extractList"]["rule"]
        if rule["type"] == "single":
            # Dremio list indexing is 0-based bracket access; Spark's
            # array[i] matches (ExtractListRecommender :125)
            return f"{operand}[{int(rule['single']['index'])}]"
        sel = rule["multiple"]["selection"]
        return _sublist_sql(operand, sel["start"], sel["end"])
    if kind == "ConvertNumberToDate":
        nd = ft["numberToDate"]
        sec = {"EPOCH": operand,
               "EXCEL": f"(({operand}) - 25569) * 86400",
               "JULIAN": f"(({operand}) - 2440587.5) * 86400",
               }[nd["format"]]
        want = nd.get("desiredType", "DATETIME")
        if want == "DATE":
            # day arithmetic, not CAST(ts AS DATE): the cast renders
            # the instant in the SESSION zone, shifting every serial
            # by one day for west-of-UTC sessions — the reference's
            # TO_DATE(epoch) is UTC-fixed
            return (f"DATE_ADD(DATE '1970-01-01', "
                    f"CAST(FLOOR(({sec}) / 86400) AS INT))")
        if want == "TIME":
            # seconds-of-day arithmetic, not DATE_FORMAT of the
            # instant: rendering goes through the SESSION zone and
            # would shift every serial by the UTC offset (same skew
            # class as the DATE branch) — the reference's
            # TO_TIME(epoch) is UTC-fixed
            sod = f"PMOD(CAST(FLOOR({sec}) AS BIGINT), 86400)"
            return (f"CONCAT(LPAD(CAST(FLOOR(({sod}) / 3600) AS "
                    f"STRING), 2, '0'), ':', "
                    f"LPAD(CAST(FLOOR(PMOD({sod}, 3600) / 60) AS "
                    f"STRING), 2, '0'), ':', "
                    f"LPAD(CAST(PMOD({sod}, 60) AS STRING), 2, '0'))")
        return f"TIMESTAMP_SECONDS({sec})"
    if kind == "ConvertDateToNumber":
        dn = ft["dateToNumber"]
        want = dn.get("desiredType", "INTEGER")
        # convertType (the operand's date family) picks the epoch
        # expression: a DATE converts via day arithmetic so the serial
        # is session-timezone-free (UNIX_TIMESTAMP(date) resolves
        # LOCAL midnight and would skew EXCEL/JULIAN serials by a day
        # in west-of-UTC sessions); instants use UNIX_TIMESTAMP
        if dn.get("convertType") == "DATE":
            base = (f"(DATEDIFF({operand}, DATE '1970-01-01') "
                    f"* CAST(86400 AS BIGINT))")
        else:
            base = f"UNIX_TIMESTAMP({operand})"
        fmt = dn["format"]
        if fmt == "EPOCH":
            return (f"CAST({base} AS DOUBLE)" if want == "FLOAT"
                    else base)
        days = {"EXCEL": "25569", "JULIAN": "2440587.5"}[fmt]
        expr = f"{base} / 86400 + {days}"
        if want == "INTEGER":
            return f"CAST(CEIL({expr}) AS BIGINT)"
        return f"({expr})"
    if kind == "ConvertToTypeWithPatternIfPossible":
        # SQLGenerator :1301 — date-family only: TO_<TYPE>(e, pattern,
        # replace-with-null-flag); Spark's TRY_TO_TIMESTAMP is the
        # flag=1 form, TO_TIMESTAMP the erroring flag=0 form
        c = ft["toTypeWithPatternIfPossible"]
        want, pat = c["desiredType"], c["pattern"]
        if want not in ("DATE", "DATETIME", "TIME"):
            raise ExploreError(
                "only DATE, TIME and DATETIME are valid for "
                f"pattern conversion, got {want}")
        fn = ("TRY_TO_TIMESTAMP"
              if c.get("actionForNonMatchingValue",
                       "REPLACE_WITH_NULL") == "REPLACE_WITH_NULL"
              else "TO_TIMESTAMP")
        lit = "'" + pat.replace("'", "''") + "'"
        ts = f"{fn}({operand}, {lit})"
        if want == "DATE":
            return f"CAST({ts} AS DATE)"
        if want == "TIME":
            return f"DATE_FORMAT({ts}, 'HH:mm:ss')"
        return ts
    raise ExploreError(f"unsupported field transformation: {kind}")


def _json_path_sql(path: str) -> str:
    """`a.b[2].c` → `['a']['b'][2]['c']` — bracket element access
    resolves struct fields, map keys AND array indices in Spark SQL,
    mirroring ExtractMapRecommender's dotted/indexed JSON paths."""
    out = []
    for seg in path.split("."):
        m = re.fullmatch(r"([^\[\]]*)((?:\[\d+\])*)", seg.strip())
        if m is None:
            raise ExploreError(f"bad JSON path segment: {seg!r}")
        name, idxs = m.groups()
        if name:
            out.append("['" + name.replace("'", "''") + "']")
        out.extend(re.findall(r"\[\d+\]", idxs))
    if not out:
        raise ExploreError(f"empty JSON path: {path!r}")
    return "".join(out)


def _sublist_sql(operand: str, start: dict, end: dict) -> str:
    """ListSelection (both ends INCLUSIVE, each FROM_THE_START or
    FROM_THE_END) → SLICE(arr, start, length). Spark's SLICE start
    convention matches Dremio's sublist (1-based, negative counts
    from the end); the length arithmetic is
    ExtractListRecommender.getLength :211."""
    s_val, s_end = int(start["value"]), \
        start.get("direction") == "FROM_THE_END"
    e_val, e_end = int(end["value"]), \
        end.get("direction") == "FROM_THE_END"
    off = -(s_val + 1) if s_end else s_val + 1
    if s_end and e_end:
        length = str(s_val - e_val + 1)
    elif s_end:  # start from end, end from start
        length = f"{s_val + e_val + 2} - SIZE({operand})"
    elif e_end:
        length = f"SIZE({operand}) - {s_val + e_val}"
    else:
        length = str(e_val - s_val + 1)
    # SLICE errors on a negative length where sublist returns empty —
    # clamp: an inverted/out-of-range selection yields []
    return f"SLICE({operand}, {off}, GREATEST(0, {length}))"


def expr_sql(expr: dict) -> str:
    """Expression (explore.proto:210) → SQL."""
    kind = expr["type"]
    if kind == "ColumnReference":
        return _col_sql(expr["col"])
    if kind == "CalculatedField":
        return "(" + expr["calculatedField"]["exp"] + ")"
    if kind == "Trim":
        t = expr["trim"]
        fn = {"BOTH": "TRIM", "LEFT": "LTRIM",
              "RIGHT": "RTRIM"}[t["trimType"]]
        return f"{fn}({expr_sql(t['operand'])})"
    if kind == "ConvertCase":
        c = expr["convertCase"]
        fn = {"LOWER_CASE": "LOWER", "UPPER_CASE": "UPPER",
              "TITLE_CASE": "INITCAP"}[c["convertCase"]]
        return f"{fn}({expr_sql(c['operand'])})"
    if kind == "Extract":
        e = expr["extract"]
        return _extract_rule_sql(e["rule"], expr_sql(e["operand"]))
    if kind == "FieldTransformation":
        f = expr["fieldTransformation"]
        return _field_transform_sql(f["transformation"],
                                    expr_sql(f["operand"]))
    if kind == "ConvertType":
        c = expr["convertType"]
        operand = expr_sql(c["operand"])
        target = _SQL_TYPE[c["desiredType"]]
        if c.get("castWhenPossible"):
            cast = f"TRY_CAST({operand} AS {target})"
            if c.get("actionForNonMatchingValue") == "REPLACE_WITH_DEFAULT":
                dflt = _sql_literal(c.get("defaultValue"),
                                    c["desiredType"])
                return f"COALESCE({cast}, {dflt})"
            return cast
        return f"CAST({operand} AS {target})"
    if kind == "Measure":
        m = expr["measure"]
        mt = m["measureType"]
        if mt == "Count_Star":
            return "COUNT(*)"
        operand = expr_sql(m["operand"])
        fn = {"Sum": "SUM", "Average": "AVG", "Count": "COUNT",
              "Minimum": "MIN", "Maximum": "MAX",
              "Standard_Deviation": "STDDEV",
              "Standard_Deviation_Population": "STDDEV_POP",
              "Variance": "VAR_SAMP",
              "Variance_Population": "VAR_POP"}.get(mt)
        if fn is None:
            if mt == "Count_Distinct":
                return f"COUNT(DISTINCT {operand})"
            raise ExploreError(f"unknown measure type: {mt}")
        return f"{fn}({operand})"
    raise ExploreError(f"unsupported expression type: {kind}")


def col_ref(name: str, table: str | None = None) -> dict:
    col = {"name": name}
    if table:
        col["table"] = table
    return {"type": "ColumnReference", "col": col}


# --------------------------------------------------------------------------
# Filter → SQL (SQLGenerator.java:525-646)
# --------------------------------------------------------------------------

def filter_sql(f: dict) -> str:
    operand = expr_sql(f["operand"])
    fd = f["filterDef"]
    kind = fd["type"]
    if kind == "Value":
        v = fd["value"]
        dt = v.get("dataType", "TEXT")
        vals = v.get("valuesList", v.get("values", []))
        cond = (f"{operand} IN ("
                + ", ".join(_sql_literal(x, dt) for x in vals) + ")")
    elif kind == "Range":
        r = fd["range"]
        dt = r.get("dataType", "TEXT")
        parts = []
        if r.get("lowerBound") is not None:
            op = ">=" if r.get("lowerBoundInclusive", True) else ">"
            parts.append(f"{operand} {op} "
                         f"{_sql_literal(r['lowerBound'], dt)}")
        if r.get("upperBound") is not None:
            op = "<=" if r.get("upperBoundInclusive", True) else "<"
            parts.append(f"{operand} {op} "
                         f"{_sql_literal(r['upperBound'], dt)}")
        if not parts:
            raise ExploreError("At least one bound should not be null.")
        cond = " AND ".join(parts)
    elif kind == "Custom":
        cond = "(" + fd["custom"]["expression"] + ")"
    elif kind == "Pattern":
        cond = _pattern_cond_sql(fd["pattern"]["rule"], operand)
    else:
        raise ExploreError(f"unsupported filter type: {kind}")
    if f.get("keepNull"):
        cond = f"({cond} OR {operand} IS NULL)"
    if f.get("exclude"):
        cond = f"NOT ({cond})"
    return cond


# --------------------------------------------------------------------------
# VirtualDatasetState → SQL (SQLGenerator.java:774-786)
# --------------------------------------------------------------------------

def _from_sql(frm: dict) -> tuple[str, str | None]:
    """Returns (FROM clause fragment, effective alias)."""
    kind = frm["type"]
    if kind == "Table":
        t = frm["table"]
        path = t["datasetPath"]
        ref = ".".join(quote_ident(p) for p in path.split("."))
        alias = t.get("alias")
        return (f"{ref} AS {quote_ident(alias)}" if alias else ref,
                alias or path.rsplit(".", 1)[-1])
    if kind == "SQL":
        s = frm["sql"]
        alias = s.get("alias") or "nested_sql"
        return (f"(\n{s['sql']}\n) AS {quote_ident(alias)}", alias)
    if kind == "SubQuery":
        sq = frm["subQuery"]
        alias = sq["alias"]
        inner = generate_sql(sq["suqQuery"])
        return (f"(\n{inner}\n) AS {quote_ident(alias)}", alias)
    raise ExploreError(f"unknown from type: {kind}")


def generate_sql(state: dict) -> str:
    cols = state.get("columns") or []
    select = (", ".join(
        f"{expr_sql(c['value'])} AS {quote_ident(c['name'])}"
        for c in cols) or "*")
    frm, _alias = _from_sql(state["from"])
    join_sql = ""
    for j in state.get("joins") or []:
        jt = {"Inner": "INNER JOIN", "LeftOuter": "LEFT OUTER JOIN",
              "RightOuter": "RIGHT OUTER JOIN",
              "FullOuter": "FULL OUTER JOIN"}[j["joinType"]]
        right = ".".join(quote_ident(p)
                         for p in j["rightTable"].split("."))
        alias = j["joinAlias"]
        conds = " AND ".join(
            f"{quote_ident(_alias)}.{quote_ident(c['leftColumn'])} = "
            f"{quote_ident(alias)}.{quote_ident(c['rightColumn'])}"
            for c in j.get("joinConditionsList",
                           j.get("joinConditions", []))) or "TRUE"
        join_sql += (f"\n {jt} {right} AS {quote_ident(alias)}"
                     f" ON {conds}")
    where = ""
    filters = state.get("filters") or []
    if filters:
        where = "\nWHERE " + "\n  AND ".join(
            filter_sql(f) for f in filters)
    group = ""
    group_bys = state.get("groupBys") or []
    if group_bys:
        group = "\nGROUP BY " + ", ".join(
            expr_sql(g["value"]) for g in group_bys)
    order = ""
    orders = state.get("orders") or []
    if orders:
        order = "\nORDER BY " + ", ".join(
            f"{quote_ident(o['name'])} {o.get('direction', 'ASC')}"
            for o in orders)
    return f"SELECT {select}\nFROM {frm}{join_sql}{where}{group}{order}"


# --------------------------------------------------------------------------
# DatasetStateMutator (DatasetStateMutator.java)
# --------------------------------------------------------------------------

class StateMutator:
    def __init__(self, state: dict, preview: bool = False):
        self.state = copy.deepcopy(state)
        self.preview = preview
        self.added: list[str] = []
        self.removed: list[str] = []
        self.modified: list[str] = []

    # -- lookup -----------------------------------------------------------
    def _columns(self) -> list[dict]:
        cols = self.state.get("columns")
        if cols is None:
            raise ExploreError(
                "Columns should be populated whenever a dataset is created.")
        return cols

    def _find_col(self, name: str) -> tuple[int, dict] | None:
        for i, c in enumerate(self._columns()):
            if c["name"] == name:
                return i, c
        return None

    def _find_col_or_fail(self, name: str) -> tuple[int, dict]:
        found = self._find_col(name)
        if found is None:
            names = ", ".join(c["name"] for c in self._columns())
            raise ExploreError(
                f"Invalid col name {name}. It is not in the current "
                f"schema: {names}")
        return found

    def unique_column_name(self, name: str) -> str:
        new, i = name, 0
        while self._find_col(new) is not None:
            new = f"{name}{i}"
            i += 1
        return new

    def find_col_value(self, name: str) -> dict:
        return self._find_col_or_fail(name)[1]["value"]

    def is_grouped(self) -> bool:
        return bool(self.state.get("groupBys"))

    def _is_grouped_by(self, name: str) -> bool:
        return any(g["name"] == name
                   for g in self.state.get("groupBys") or [])

    def _is_ordered_by(self, name: str) -> bool:
        return any(o["name"] == name
                   for o in self.state.get("orders") or [])

    # -- nesting (DatasetStateMutator.java:224) ---------------------------
    def _referred_tables(self) -> set[str]:
        return set(self.state.get("referredTables") or [])

    def nest(self) -> None:
        tables = self._referred_tables()
        i = 0
        while f"nested_{i}" in tables:
            i += 1
        alias = f"nested_{i}"
        new_cols = [{"name": c["name"], "value": col_ref(c["name"])}
                    for c in self._columns()]
        self.state = {
            "columns": new_cols,
            "from": {"type": "SubQuery",
                     "subQuery": {"alias": alias,
                                  "suqQuery": self.state}},
            "context": self.state.get("context"),
            "referredTables": sorted(tables | {alias}),
        }

    def _nest_if_used(self, name: str) -> None:
        """findColForModification's rule (:339): modifying a column
        referenced by a group-by or sort wraps the state first."""
        if self._is_grouped_by(name) or self._is_ordered_by(name):
            self.nest()

    # -- mutations ---------------------------------------------------------
    def rename(self, old: str, new: str) -> None:
        _, col = self._find_col_or_fail(old)
        col["name"] = new
        for o in self.state.get("orders") or []:
            if o["name"] == old:
                o["name"] = new
        self.modified.append(new)

    def apply(self, old: str, new: str, value: dict,
              drop_source: bool) -> None:
        if old == new and not drop_source:
            raise ExploreError(
                f"You cannot use a column name that already exists "
                f"in the table: {new}")
        self._nest_if_used(old)
        drop = drop_source and not self.preview
        idx, _ = self._find_col_or_fail(old)
        if drop:
            self._columns().pop(idx)
            next_index = idx
        else:
            next_index = idx + 1
        name = (new + " (new)"
                if old == new and self.preview else new)
        self._columns().insert(next_index,
                               {"name": name, "value": value})
        self.added.append(name)
        if drop_source:
            self.removed.append(old)

    def drop_column(self, name: str) -> None:
        self._nest_if_used(name)
        idx, _ = self._find_col_or_fail(name)
        if not self.preview:
            self._columns().pop(idx)
        self.removed.append(name)

    def add_filter(self, f: dict) -> None:
        self.state.setdefault("filters", []).append(f)

    def set_orders(self, orders: list[dict]) -> None:
        self.state["orders"] = orders
        self.modified.extend(o["name"] for o in orders)

    def grouped_by(self, new_columns: list[dict],
                   group_bys: list[dict]) -> None:
        keep = [o for o in self.state.get("orders") or []
                if any(g["name"] == o["name"] for g in group_bys)]
        self.state["orders"] = keep
        self.state["columns"] = new_columns
        self.state["groupBys"] = group_bys

    def add_join(self, join: dict) -> None:
        self.state.setdefault("joins", []).append(join)

    def update_column_tables(self) -> None:
        """After a join, qualify unqualified column refs with the
        from-alias so they cannot collide with right-table names
        (DatasetStateMutator.updateColumnTables :93)."""
        _, alias = _from_sql(self.state["from"])
        for c in self._columns():
            v = c["value"]
            if v["type"] == "ColumnReference" and not v["col"].get("table"):
                v["col"]["table"] = alias

    def from_alias(self) -> str:
        return _from_sql(self.state["from"])[1]


# --------------------------------------------------------------------------
# Transformer (TransformActor.java visit methods)
# --------------------------------------------------------------------------

def _get(d: dict, key: str, default=None):
    """Accept both `fooList` (protostuff JSON) and `foo` spellings."""
    if key in d:
        return d[key]
    if key.endswith("List") and key[:-4] in d:
        return d[key[:-4]]
    return d.get(key + "List", default)


class Transformer:
    """Applies one transform to a VirtualDatasetState, returning the
    new state (TransformActor.java; nesting decisions preserved)."""

    def __init__(self, engine=None):
        self.engine = engine

    def apply(self, state: dict, transform: dict,
              preview: bool = False) -> dict:
        m = StateMutator(state, preview=preview)
        kind = transform.get("type")
        fn = getattr(self, f"_t_{kind}", None)
        if fn is None:
            raise ExploreError(f"unsupported transform type: {kind}")
        fn(m, transform)
        return m.state

    # each _t_* mirrors TransformActor.visit(TransformX)
    def _t_createFromParent(self, m: StateMutator, t: dict) -> None:
        frm = t["createFrom"]
        m.state = {"columns": [], "from": frm,
                   "referredTables": []}

    def _t_updateSQL(self, m: StateMutator, t: dict) -> None:
        m.state = {"columns": [],
                   "from": {"type": "SQL",
                            "sql": {"sql": t["sql"],
                                    "alias": "nested_0"}},
                   "context": _get(t, "sqlContextList"),
                   "referredTables": ["nested_0"]}

    def _t_drop(self, m: StateMutator, t: dict) -> None:
        m.drop_column(t["droppedColumnName"])

    def _t_rename(self, m: StateMutator, t: dict) -> None:
        m.rename(t["oldColumnName"], t["newColumnName"])

    def _t_sort(self, m: StateMutator, t: dict) -> None:
        m.set_orders([{"name": t["sortedColumnName"],
                       "direction": t.get("order", "ASC")}])

    def _t_sorts(self, m: StateMutator, t: dict) -> None:
        m.set_orders([{"name": o["name"],
                       "direction": o.get("direction", "ASC")}
                      for o in _get(t, "columnsList", [])])

    def _t_convertCase(self, m: StateMutator, t: dict) -> None:
        old = t["columnName"]
        value = {"type": "ConvertCase",
                 "convertCase": {"convertCase": t["convertCase"],
                                 "operand": m.find_col_value(old)}}
        m.apply(old, t["newColumnName"], value,
                t.get("dropSourceColumn", True))

    def _t_trim(self, m: StateMutator, t: dict) -> None:
        old = t["columnName"]
        value = {"type": "Trim",
                 "trim": {"operand": m.find_col_value(old),
                          "trimType": t["trimType"]}}
        m.apply(old, t["newColumnName"], value,
                t.get("dropSourceColumn", True))

    def _t_extract(self, m: StateMutator, t: dict) -> None:
        old = t["sourceColumnName"]
        value = {"type": "Extract",
                 "extract": {"rule": t["rule"],
                             "operand": m.find_col_value(old)}}
        m.apply(old, t["newColumnName"], value,
                t.get("dropSourceColumn", True))

    def _t_addCalculatedField(self, m: StateMutator, t: dict) -> None:
        # nest unconditionally — the user expression may reference any
        # current output column (TransformActor.java:320)
        m.nest()
        value = {"type": "CalculatedField",
                 "calculatedField": {"exp": t["expression"]}}
        m.apply(t["sourceColumnName"], t["newColumnName"], value,
                t.get("dropSourceColumn", False))

    def _t_field(self, m: StateMutator, t: dict) -> None:
        old = t["sourceColumnName"]
        if old is None:
            raise ExploreError(
                "sourceColumnName is missing in field transformation")
        new = t.get("newColumnName") or old
        drop = t.get("dropSourceColumn", True)
        ft = t["fieldTransformation"]
        if ft["type"] == "UnnestList":
            # flatten nests first so EXPLODE sits alone in its select
            m.nest()
        value = {"type": "FieldTransformation",
                 "fieldTransformation": {
                     "transformation": ft,
                     "operand": m.find_col_value(old)}}
        m.apply(old, new, value, drop)
        if ft["type"] == "ConvertToTypeIfPossible":
            c = ft["convertToTypeIfPossible"]
            if c.get("actionForNonMatchingValue") == "DELETE_RECORDS":
                # the filter must see the CAST RESULT, not the raw
                # base column a same-SELECT WHERE would resolve to —
                # nest first so the new column is a subquery output
                m.nest()
                m.add_filter({
                    "operand": m.find_col_value(new),
                    "filterDef": {"type": "Custom", "custom": {
                        "expression":
                            f"{quote_ident(new)} IS NOT NULL"}}})

    def _t_lookup(self, m: StateMutator, t: dict) -> None:
        # the reference itself rejects lookup (TransformActor.java:142
        # throws UnsupportedOperationException("NYI")) — same contract
        raise ExploreError("transform type lookup is not implemented")

    def _t_splitByDataType(self, m: StateMutator, t: dict) -> None:
        """TransformActor.visit(TransformSplitByDataType) :693 — one
        new column per selected type, prefix+TypeName, each a
        convert-if-possible with non-matching → NULL (TRY_CAST: the
        reference builds ExpConvertType REPLACE_WITH_NULL — plain
        CAST would error instead of splitting)."""
        old = t["sourceColumnName"]
        types = _get(t, "selectedTypesList", []) or []
        if not types:
            raise ExploreError("select at least one data type")
        m._nest_if_used(old)
        p = m.find_col_value(old)
        idx, _ = m._find_col_or_fail(old)
        for dt in types:
            idx += 1
            new = m.unique_column_name(
                t["newColumnNamePrefix"] + dt)
            m._columns().insert(idx, {"name": new, "value": {
                "type": "ConvertType", "convertType": {
                    "desiredType": dt, "castWhenPossible": True,
                    "actionForNonMatchingValue": "REPLACE_WITH_NULL",
                    "operand": p}}})
            m.added.append(new)
        if t.get("dropSourceColumn"):
            m.drop_column(old)

    def _t_filter(self, m: StateMutator, t: dict) -> None:
        col = t["sourceColumnName"]
        fd = t["filter"]
        # TransformActor.java:718 — aggregate/unnest operands and
        # Custom expressions force a nest before filtering
        operand_expr = m.find_col_value(col)
        needs_nest = (operand_expr.get("type") == "Measure"
                      or "EXPLODE" in expr_sql(operand_expr).upper()
                      or fd.get("type") == "Custom")
        if fd.get("type") == "Range":
            r = fd["range"]
            if r.get("lowerBound") is None and r.get("upperBound") is None:
                raise ExploreError(
                    "At least one bound should not be null.")
        if needs_nest:
            m.nest()
        m.add_filter({"operand": m.find_col_value(col),
                      "filterDef": fd,
                      "keepNull": t.get("keepNull", False),
                      "exclude": t.get("exclude", False)})

    def _t_groupBy(self, m: StateMutator, t: dict) -> None:
        dims = _get(t, "columnsDimensionsList", []) or []
        measures = _get(t, "columnsMeasuresList", []) or []
        if m.is_grouped():
            m.nest()
        else:
            for d in dims:
                if m.find_col_value(d["column"]).get("type") == "Measure":
                    m.nest()
                    break
            else:
                for me in measures:
                    if (me.get("column") and m.find_col_value(
                            me["column"]).get("type") == "Measure"):
                        m.nest()
                        break
        new_cols, group_bys = [], []
        for d in dims:
            c = {"name": d["column"],
                 "value": m.find_col_value(d["column"])}
            new_cols.append(c)
            group_bys.append(c)
        for me in measures:
            mt = me["type"]
            if mt != "Count_Star" and me.get("column"):
                operand = m.find_col_value(me["column"])
                name = f"{mt}_{me['column']}"
            else:
                operand, name = None, mt
            measure = {"measureType": mt}
            if operand is not None:
                measure["operand"] = operand
            new_cols.append({"name": name,
                             "value": {"type": "Measure",
                                       "measure": measure}})
        m.grouped_by(new_cols, group_bys)

    def _t_join(self, m: StateMutator, t: dict) -> None:
        right_path = _get(t, "rightTableFullPathList")
        if isinstance(right_path, list):
            right_path = ".".join(right_path)
        leaf = right_path.rsplit(".", 1)[-1]
        join_alias = f"join_{leaf}"
        m.nest()
        conds = _get(t, "joinConditionsList", []) or []
        m.add_join({"joinType": t["joinType"],
                    "rightTable": right_path,
                    "joinAlias": join_alias,
                    "joinConditions": conds})
        m.update_column_tables()
        if self.engine is None:
            raise ExploreError("join requires an engine for the "
                               "right-side schema")
        right_cols = [f.name for f in
                      self.engine.table(right_path).schema.fields]
        for jc in conds:
            if jc["rightColumn"] not in right_cols:
                raise ExploreError(
                    f"join condition column {jc['rightColumn']!r} is "
                    f"not an (unused) column of {right_path}")
            right_cols.remove(jc["rightColumn"])
            right_col = m.unique_column_name(jc["rightColumn"])
            # move the left key to the edge, right key beside it
            idx, col = m._find_col_or_fail(jc["leftColumn"])
            cols = m._columns()
            cols.append(cols.pop(idx))
            cols.append({"name": right_col,
                         "value": col_ref(jc["rightColumn"],
                                          join_alias)})
            m.added.extend([jc["leftColumn"], right_col])
        for rc in right_cols:
            m._columns().append(
                {"name": m.unique_column_name(rc),
                 "value": col_ref(rc, join_alias)})

    def _t_convertToSingleType(self, m: StateMutator, t: dict) -> None:
        old = t["sourceColumnName"]
        dt = t.get("desiredType", "TEXT")
        value = {"type": "ConvertType",
                 "convertType": {"desiredType": dt,
                                 "castWhenPossible":
                                     t.get("castWhenPossible", True),
                                 "actionForNonMatchingValue":
                                     t.get("actionForNonMatchingValue",
                                           "REPLACE_WITH_NULL"),
                                 "defaultValue": t.get("defaultValue"),
                                 "operand": m.find_col_value(old)}}
        m.apply(old, t["newColumnName"], value,
                t.get("dropSourceColumn", True))


def describe_transform(t: dict) -> str:
    """Human description stored on history items
    (Transformer.describe :109 → TransformBase.accept(DescribeTransformation))."""
    kind = t.get("type")
    if kind == "rename":
        return (f"Renamed {t['oldColumnName']} to "
                f"{t['newColumnName']}")
    if kind == "drop":
        return f"Dropped {t['droppedColumnName']}"
    if kind == "convertCase":
        return f"Converted case of {t['columnName']}"
    if kind == "trim":
        return f"Trimmed {t['columnName']}"
    if kind == "extract":
        return f"Extracted from {t['sourceColumnName']}"
    if kind == "addCalculatedField":
        return f"Added calculated field {t['newColumnName']}"
    if kind == "field":
        return (f"Modified {t['sourceColumnName']}: "
                f"{t['fieldTransformation'].get('type')}")
    if kind == "filter":
        return f"Filtered on {t['sourceColumnName']}"
    if kind == "groupBy":
        return "Grouped"
    if kind in ("sort", "sorts"):
        return "Sorted"
    if kind == "join":
        rt = _get(t, "rightTableFullPathList")
        rt = ".".join(rt) if isinstance(rt, list) else rt
        return f"Joined with {rt}"
    if kind == "updateSQL":
        return "Edited SQL"
    if kind == "createFromParent":
        return "Created"
    return kind or "transform"


# --------------------------------------------------------------------------
# Recommenders (ExtractRecommender / ReplaceRecommender /
# SplitRecommender + CardGenerator)
# --------------------------------------------------------------------------

_CHAR_CLASSES = [("0123456789", r"\d"),
                 ("abcdefghijklmnopqrstuvwxyz", "[a-z]"),
                 ("ABCDEFGHIJKLMNOPQRSTUVWXYZ", "[A-Z]")]


def _classify_fragment(text: str) -> str | None:
    """Pattern candidate for the selected fragment (the reference's
    ExtractRecommender builds digit/word/char-class candidates)."""
    if not text:
        return None
    if text.isdigit():
        return r"\d+"
    if text.isalpha():
        return "[a-zA-Z]+"
    if re.fullmatch(r"\w+", text):
        return r"\w+"
    return None


def recommend_extract(selection: dict) -> list[dict]:
    """Extract rule candidates for a text selection
    (ExtractRecommender.java — position rules from both ends plus a
    pattern rule when the fragment is a clean char class)."""
    cell = selection.get("cellText") or ""
    off = int(selection.get("offset", 0))
    length = int(selection.get("length", 0))
    rules = []
    if length > 0:
        rules.append({"type": "position", "position": {
            "startIndex": {"value": off,
                           "direction": "FROM_THE_START"},
            "endIndex": {"value": off + length - 1,
                         "direction": "FROM_THE_START"}}})
        if cell:
            rules.append({"type": "position", "position": {
                "startIndex": {"value": len(cell) - off - 1,
                               "direction": "FROM_THE_END"},
                "endIndex": {"value": len(cell) - off - length,
                             "direction": "FROM_THE_END"}}})
    frag = cell[off:off + length]
    pat = _classify_fragment(frag)
    if pat:
        rules.append({"type": "pattern",
                      "pattern": {"pattern": pat, "index": 0,
                                  "indexType": "INDEX"}})
    return rules


def recommend_replace(selection: dict) -> list[dict]:
    """ReplacePatternRule candidates (ReplaceRecommender.java:60 —
    exact / contains / starts-with / ends-with around the selection)."""
    cell = selection.get("cellText") or ""
    off = int(selection.get("offset", 0))
    length = int(selection.get("length", 0))
    frag = cell[off:off + length]
    rules = []
    if not cell:
        return [{"selectionType": "IS_NULL"}]
    if frag and frag != cell:
        rules.append({"selectionType": "CONTAINS",
                      "selectionPattern": frag})
        if off == 0:
            rules.append({"selectionType": "STARTS_WITH",
                          "selectionPattern": frag})
        if off + length == len(cell):
            rules.append({"selectionType": "ENDS_WITH",
                          "selectionPattern": frag})
    rules.append({"selectionType": "EXACT", "selectionPattern": cell})
    return rules


def recommend_extract_map(selection: dict) -> list[dict]:
    """ExtractMapRule candidates (ExtractMapRecommender.java:38-44):
    the client either sends the resolved mapPathList, or — for a raw
    text selection inside a rendered JSON cell — the selection is
    located to its element path with the JSONElementLocator port
    (jsonlocate.locate), which is the nested-cell selection→path
    mapping the heuristic-only card lacked."""
    from .jsonlocate import JsonLocateError, locate, to_rule_path

    if selection.get("mapPathList"):
        return [{"path": ".".join(selection["mapPathList"])}]
    cell = selection.get("cellText") or ""
    off = int(selection.get("offset", 0))
    length = int(selection.get("length", 0))
    try:
        start, end = locate(cell, off, off + length)
    except JsonLocateError as e:
        raise ExploreError(f"invalid JSON: {e}") from e
    if not start:
        raise ExploreError("selection does not cover a JSON element")
    # a selection spanning two siblings recommends their common
    # ancestor path; identical paths recommend the element itself
    common = []
    for a, b in zip(start, end):
        if a == b:
            common.append(a)
        else:
            break
    if not common:
        raise ExploreError("selection does not cover a JSON element")
    return [{"path": to_rule_path(common)}]


def recommend_extract_list(selection: dict) -> list[dict]:
    """ExtractListRule candidates (ExtractListRecommender.java:50-83):
    locate the selection inside the rendered array cell; a single
    element recommends single(index); a span recommends the four
    from-start/from-end sublist combinations."""
    from .jsonlocate import JsonLocateError, locate

    cell = selection.get("cellText") or ""
    off = int(selection.get("offset", 0))
    length = int(selection.get("length", 0))
    try:
        sel_start, sel_end = locate(cell, off, off + length)
    except JsonLocateError as e:
        raise ExploreError(f"invalid JSON: {e}") from e

    def _array_el(p):
        from .jsonlocate import ArrEl

        if len(p) == 1 and isinstance(p[0], ArrEl):
            return p[0]
        raise ExploreError(f"not an array selection: {p}")

    start, end = _array_el(sel_start), _array_el(sel_end)
    if start is end or start.position == end.position:
        return [{"type": "single",
                 "single": {"index": start.position}}]

    def from_start(a):
        return {"value": a.position, "direction": "FROM_THE_START"}

    def from_end(a):
        return {"value": a.count - a.position - 1,
                "direction": "FROM_THE_END"}

    return [{"type": "multiple",
             "multiple": {"selection": {"start": s, "end": e}}}
            for s, e in ((from_start(start), from_start(end)),
                         (from_start(start), from_end(end)),
                         (from_end(start), from_start(end)),
                         (from_end(start), from_end(end)))]


def recommend_split(selection: dict) -> list[dict]:
    """SplitRule candidates: delimiters present in the cell text
    (SplitRecommender.java:49 — space/comma/dash/etc. + the selected
    fragment itself)."""
    cell = selection.get("cellText") or ""
    off = int(selection.get("offset", 0))
    length = int(selection.get("length", 0))
    frag = cell[off:off + length]
    rules = []
    if frag:
        rules.append({"pattern": frag, "matchType": "exact",
                      "ignoreCase": False})
    for d in (" ", ",", "-", ";", ":", "|", "\t"):
        if d in cell and d != frag:
            rules.append({"pattern": d, "matchType": "exact",
                          "ignoreCase": False})
    return rules


# --------------------------------------------------------------------------
# ExploreService — versions store + preview/save/history
# --------------------------------------------------------------------------

TMP_PATH = "tmp.UNTITLED"  # DatasetTool.TMP_DATASET_PATH
_CARD_SAMPLE = 500  # reference card generators sample the preview
_HISTOGRAM_BUCKETS = 200      # HistogramGenerator.BUCKETS
_HISTOGRAM_MAX_VALUES = 200   # top-K cap on the unbinned values arm
_TRUNC_UNITS = [              # TruncEvalEnum divisors, in seconds
    ("SECOND", 1), ("MINUTE", 60), ("HOUR", 3600), ("DAY", 86400),
    ("WEEK", 604800), ("MONTH", 2592000), ("QUARTER", 7776000),
    ("YEAR", 31536000), ("DECADE", 315360000),
    ("CENTURY", 3153600000), ("MILLENNIUM", 31536000000)]


class ExploreService:
    """Versioned dataset-state store over the engine
    (DatasetVersionMutator + DatasetTool roles).  Entries are keyed
    (dotted path, version); save() lands a VDS in a space and stamps
    an OCC tag (save :769 — savedTag mismatch → 409)."""

    def __init__(self, engine):
        self.engine = engine
        self.transformer = Transformer(engine)
        self._versions: dict[tuple[str, str], dict] = {}
        self._saved_tags: dict[str, str] = {}
        self._lock = threading.RLock()

    # -- version store -----------------------------------------------------
    def get_version(self, path: str, version: str) -> dict:
        with self._lock:
            entry = self._versions.get((path, version))
        if entry is None:
            raise VersionNotFoundError(f"{path} version {version}")
        return entry

    def _put(self, path: str, version: str, entry: dict) -> dict:
        entry.setdefault("fullPath", path)
        entry.setdefault("version", version)
        entry.setdefault("createdAt", int(time.time() * 1000))
        with self._lock:
            self._versions[(path, version)] = entry
        # version ids are CLIENT-SUPPLIED, so a re-created version can
        # overwrite an existing entry — drop any materialized
        # histogram sample keyed to the old content or cards would
        # silently read the previous dataset's rows
        cache = getattr(self, "_hg_samples", None)
        if cache:
            for key in [k for k in cache
                        if k[0] == path and k[1] == version]:
                try:
                    self.engine.spark.catalog.dropTempView(
                        cache.pop(key))
                except Exception:  # noqa: BLE001 — view already gone
                    pass
        return entry

    def _fields_of(self, sql: str) -> list[dict]:
        df = self.engine.sql(sql)
        return [{"name": f.name,
                 "type": data_type_of(f.dataType.simpleString())}
                for f in df.schema.fields]

    @staticmethod
    def _fields_from_schema(schema) -> list[dict]:
        return [{"name": f.name,
                 "type": data_type_of(f.dataType.simpleString())}
                for f in schema.fields]

    def _derive_schema(self, new_state: dict, base: dict):
        """Schema of the transformed version by analyzing ONLY the
        layers this transform added: when the new state nests the
        previous version's state as a subquery (the common case — most
        transforms nest first), that inner subtree was already analyzed
        and validated at its own step, so replace it with an empty
        stand-in view carrying the previous version's EXACT analyzed
        schema and analyze the thin outer plan.  Catalyst work per step
        stays O(new layers) instead of re-analyzing the whole
        progressively nested chain (O(depth^2) across a transform
        session).  Returns None when the fast path does not apply —
        the caller falls back to full analysis."""
        try:
            prev_schema = base.get("_schema")
            if prev_schema is None:
                return None
            target = base["state"]
            probe = copy.deepcopy(new_state)
            node, replaced = probe, False
            for _ in range(8):  # apply() nests at most twice per step
                frm = node.get("from") or {}
                if frm.get("type") != "SubQuery":
                    break
                sub = frm["subQuery"]
                if sub.get("suqQuery") == target:
                    seq = self._probe_seq = getattr(
                        self, "_probe_seq", 0) + 1
                    # unique per call: the engine plan cache keys on
                    # SQL text and cannot see a re-bound temp view
                    view = f"__explore_probe_{seq}"
                    node["from"] = {
                        "type": "Table",
                        "table": {"datasetPath": view,
                                  "alias": sub["alias"]}}
                    replaced = True
                    break
                node = sub["suqQuery"]
            if not replaced:
                return None
            spark = self.engine.spark
            meta_df(spark, [], prev_schema).createOrReplaceTempView(view)
            try:
                return self.engine.sql(generate_sql(probe)).schema
            finally:
                try:
                    spark.catalog.dropTempView(view)
                except Exception:  # noqa: BLE001 — probe view cleanup
                    pass
        except Exception:  # noqa: BLE001 — full analysis is always correct
            return None

    # -- creation ----------------------------------------------------------
    def new_untitled_from_table(self, parent: str,
                                version: str) -> dict:
        """POST /datasets/new_untitled?parentDataset=
        (DatasetsResource.newUntitled :180): version 0 state is a
        plain FromTable with the parent's columns materialized."""
        schema = self.engine.table(parent).schema
        cols = [{"name": f.name, "value": col_ref(f.name)}
                for f in schema.fields]
        state = {"columns": cols,
                 "from": {"type": "Table",
                          "table": {"datasetPath": parent}},
                 "referredTables": [parent]}
        sql = generate_sql(state)
        entry = self._put(TMP_PATH, version, {
            "state": state, "sql": sql,
            "name": "UNTITLED",
            "derivation": "DERIVED_PHYSICAL",
            "lastTransform": {
                "type": "createFromParent",
                "createFrom": state["from"]},
            "previousVersion": None,
            "sqlFields": [{"name": f.name,
                           "type": data_type_of(
                               f.dataType.simpleString())}
                          for f in schema.fields]})
        entry["_schema"] = schema  # seeds _derive_schema (private)
        return entry

    def new_untitled_sql(self, sql: str, version: str,
                         context: list[str] | None = None) -> dict:
        """POST /datasets/new_untitled_sql (DatasetsResource:267):
        FromSQL aliased nested_0, like the reference (:282)."""
        state = {"columns": [],
                 "from": {"type": "SQL",
                          "sql": {"sql": sql, "alias": "nested_0"}},
                 "context": context or [],
                 "referredTables": ["nested_0"]}
        gen = generate_sql(state)
        gschema = self.engine.sql(gen).schema
        entry = self._put(TMP_PATH, version, {
            "state": state, "sql": gen, "name": "UNTITLED",
            "derivation": "SQL",
            "lastTransform": {"type": "updateSQL", "sql": sql},
            "previousVersion": None,
            "sqlFields": self._fields_from_schema(gschema)})
        entry["_schema"] = gschema  # seeds _derive_schema (private)
        return entry

    # -- transform ---------------------------------------------------------
    def transform(self, path: str, version: str, transform: dict,
                  new_version: str, preview: bool = False) -> dict:
        """transformAndPreview (DatasetVersionResource:459): apply,
        store the new version with previousVersion back-link."""
        if new_version == version:
            # a self-referential back-link would make every chain
            # walker (history, reapply) see a cycle
            raise ExploreError(
                "newVersion must differ from the current version")
        base = self.get_version(path, version)
        new_state = self.transformer.apply(base["state"], transform,
                                           preview=preview)
        sql = generate_sql(new_state)
        schema = self._derive_schema(new_state, base)
        if schema is None:
            # full analysis also validates the whole generated SQL
            schema = self.engine.sql(sql).schema
        entry = self._put(path, new_version, {
            "state": new_state, "sql": sql,
            "name": base.get("name", "UNTITLED"),
            "derivation": base.get("derivation", "UNKNOWN"),
            "lastTransform": transform,
            "previousVersion": {"datasetPath": path,
                                "datasetVersion": version},
            "sqlFields": self._fields_from_schema(schema)})
        # private (dataset_ui never emits it): seeds the next step's
        # stand-in analysis with this version's exact analyzed schema
        entry["_schema"] = schema
        return entry

    def transform_peek(self, path: str, version: str,
                       transform: dict, limit: int = 50) -> dict:
        """transformPeek (:673): ephemeral — preview rows, no stored
        version."""
        base = self.get_version(path, version)
        state = self.transformer.apply(base["state"], transform,
                                       preview=True)
        sql = generate_sql(state)
        return {"sql": sql, "data": self._preview_data(sql, limit)}

    # -- preview / run -----------------------------------------------------
    def _preview_data(self, sql: str, limit: int) -> dict:
        from .server.rest import _json_cell

        df = self.engine.sql(sql).limit(int(limit))
        rows = df.collect()
        return {"columns": [{"name": f.name,
                             "type": data_type_of(
                                 f.dataType.simpleString())}
                            for f in df.schema.fields],
                "rows": [[_json_cell(v) for v in r] for r in rows],
                "returnedRowCount": len(rows)}

    def preview(self, path: str, version: str,
                limit: int = 50) -> dict:
        entry = self.get_version(path, version)
        return {"dataset": self.dataset_ui(entry),
                "data": self._preview_data(entry["sql"], limit),
                "history": self.history(path, version)}

    def run(self, path: str, version: str, limit: int | None = None,
            executor=None) -> dict:
        """run (DatasetVersionResource.java run): execute the
        version's regenerated SQL.  Run is the full-execution path,
        but results still flow through the JOBS STORE, never an
        unbounded driver collect — the reference's own shape (run
        submits through QueryExecutor/JobsService and the UI pages).
        The REST route passes `executor`, a closure over the
        handler's `_exec_tracked`: it runs the statement under a job
        id with the store's `max_stored` cap and returns
        (job_id, schema, positional_rows) — rows are POSITIONAL cell
        lists in schema order, never name-keyed (duplicate output
        column names must keep distinct cells); this method returns
        the FIRST PAGE plus the jobId so clients page
        `/api/v3/job/{id}/results` and stream `/job/{id}/download`.
        Without an executor (unit/embedded use) it executes with an
        explicit `limit` cap (default the DAC page size, 500) —
        there is no uncapped path."""
        from .server.rest import _json_cell

        entry = self.get_version(path, version)
        page = int(limit or 500)
        if executor is not None:
            # executor rows are POSITIONAL (schema order) so duplicate
            # output column names keep distinct cells, matching the
            # no-executor collect path
            job_id, schema, pos_rows = executor(entry["sql"])
            columns = [{"name": c["name"],
                        "type": data_type_of(c["type"])}
                       for c in schema]
            rows = [list(r) for r in pos_rows[:page]]
        else:
            job_id = None
            df = self.engine.sql(entry["sql"]).limit(page)
            collected = df.collect()
            columns = [{"name": f.name,
                        "type": data_type_of(f.dataType.simpleString())}
                       for f in df.schema.fields]
            rows = [[_json_cell(v) for v in r] for r in collected]
        out = {"dataset": self.dataset_ui(entry),
               "data": {"columns": columns, "rows": rows,
                        "returnedRowCount": len(rows)},
               "history": self.history(path, version)}
        if job_id is not None:
            out["jobId"] = {"id": job_id}
            out["paginationUrl"] = f"/api/v3/job/{job_id}/results"
        return out

    def dataset_ui(self, entry: dict) -> dict:
        return {"datasetVersion": entry["version"],
                "fullPath": entry["fullPath"].split("."),
                "displayFullPath": entry["fullPath"].split("."),
                "sql": entry["sql"],
                "derivation": entry.get("derivation", "UNKNOWN"),
                "sqlFields": entry.get("sqlFields", []),
                "canReapply": entry.get("previousVersion") is not None}

    # -- history (DatasetTool.getHistory) -----------------------------------
    def history(self, path: str, version: str) -> dict:
        items = []
        p, v = path, version
        seen = set()
        while (p, v) not in seen:
            seen.add((p, v))
            try:
                entry = self.get_version(p, v)
            except VersionNotFoundError:
                break
            items.append({
                "datasetVersion": v,
                "versionedResourcePath": f"/dataset/{p}/version/{v}",
                "transformDescription": describe_transform(
                    entry.get("lastTransform") or {}),
                "createdAt": entry.get("createdAt")})
            prev = entry.get("previousVersion")
            if not prev:
                break
            p, v = prev["datasetPath"], prev["datasetVersion"]
        items.reverse()  # oldest first, like the reference
        return {"items": items, "currentDatasetVersion": version,
                "tipVersion": version}

    # -- save (DatasetVersionResource.save :769) -----------------------------
    def save(self, path: str, version: str, as_path: str,
             saved_tag: str | None = None) -> dict:
        entry = self.get_version(path, version)
        space, _, name = as_path.partition(".")
        if not name:
            raise ExploreError(
                f"save target must be space.name, got {as_path}")
        with self._lock:
            current = self._saved_tags.get(as_path)
            if current is not None and saved_tag != current:
                # the OCC clobber guard (savedTag contract, :695-698)
                raise ConcurrentModificationError(as_path)
            self.engine.create_space(space)
            self.engine.create_vds(space, name, entry["sql"])
            new_tag = uuid.uuid4().hex[:12]
            self._saved_tags[as_path] = new_tag
        saved = dict(entry)
        saved["fullPath"] = as_path
        saved["name"] = name
        self._put(as_path, version, saved)
        ui = self.dataset_ui(saved)
        ui["savedTag"] = new_tag
        return {"dataset": ui,
                "history": self.history(as_path, version)}

    # -- recommendation cards ------------------------------------------------
    def _card_sample(self, path: str, version: str,
                     col: str) -> list[str | None]:
        entry = self.get_version(path, version)
        inner = entry["sql"]
        sql = (f"SELECT {quote_ident(col)} AS v FROM (\n{inner}\n) "
               f"__card LIMIT {_CARD_SAMPLE}")
        return [r["v"] for r in self.engine.sql(sql).collect()]

    @staticmethod
    def _rule_match_fn(kind: str, rule: dict):
        """Python evaluator mirroring the generated SQL — cards are
        sample-sized, so local evaluation (one pass over ≤500 cells)
        replaces the reference's per-card preview jobs."""
        if kind == "extract":
            if rule["type"] == "position":
                pos = rule["position"]

                def _off(o):
                    return (int(o["value"]),
                            o.get("direction", "FROM_THE_START"))

                sv, sd = _off(pos["startIndex"])
                ev, ed = _off(pos["endIndex"])

                def match(s):
                    if s is None:
                        return None
                    st = sv if sd == "FROM_THE_START" else len(s) - sv - 1
                    en = ev if ed == "FROM_THE_START" else len(s) - ev - 1
                    if st < 0 or en < st or en >= len(s):
                        return None
                    return s[st:en + 1] or None
                return match
            rx = rule["pattern"]["pattern"]
            flags = re.I if rule["pattern"].get("ignoreCase") else 0
            idx = int(rule["pattern"].get("index", 0))
            itype = rule["pattern"].get("indexType", "INDEX")

            def match(s):
                if s is None:
                    return None
                if itype == "CAPTURE_GROUP":
                    m0 = re.search(rx, s, flags)
                    if not m0 or idx >= len(m0.groups()):
                        return None
                    return m0.group(idx + 1)
                hits = [m0.group(0)
                        for m0 in re.finditer(rx, s, flags)]
                if itype == "INDEX_BACKWARDS":
                    hits.reverse()
                return hits[idx] if idx < len(hits) else None
            return match
        if kind == "replace":
            sel = rule["selectionType"]
            pat = rule.get("selectionPattern", "")

            def match(s):
                if sel == "IS_NULL":
                    return s is None
                if s is None:
                    return False
                subject, p = ((s.lower(), pat.lower())
                              if rule.get("ignoreCase") else (s, pat))
                if sel == "CONTAINS":
                    return p in subject
                if sel == "STARTS_WITH":
                    return subject.startswith(p)
                if sel == "ENDS_WITH":
                    return subject.endswith(p)
                if sel == "EXACT":
                    return subject == p
                if sel == "MATCHES":
                    return re.search(
                        pat, s,
                        re.I if rule.get("ignoreCase") else 0
                    ) is not None
                return False
            return match
        if kind == "extract_map":
            # `expr.path IS NOT NULL` (ExtractMapTransformRuleWrapper.
            # getMatchFunctionExpr) evaluated on the sample cell
            from .jsonlocate import ArrEl, ObjEl, parse_path

            segs = parse_path(rule["path"])

            def match(v):
                cur = v
                for seg in segs:
                    if cur is None:
                        return None
                    try:
                        if isinstance(seg, ObjEl):
                            cur = (cur.get(seg.field)
                                   if isinstance(cur, dict)
                                   else cur[seg.field])
                        elif isinstance(seg, ArrEl):
                            cur = (cur[seg.position]
                                   if isinstance(cur, (list, tuple))
                                   and 0 <= seg.position < len(cur)
                                   else None)
                    except (KeyError, ValueError, TypeError):
                        return None
                return cur
            return match
        if kind == "extract_list":
            if rule["type"] == "single":
                idx = int(rule["single"]["index"])

                def match(v):
                    if v is None or idx >= len(v):
                        return None
                    return v[idx]
                return match
            sel = rule["multiple"]["selection"]

            def _resolve(o, n):
                return (n - int(o["value"]) - 1
                        if o.get("direction") == "FROM_THE_END"
                        else int(o["value"]))

            def match(v):
                if v is None:
                    return None
                s = _resolve(sel["start"], len(v))
                e = _resolve(sel["end"], len(v))
                if s < 0 or e < s:
                    return None
                out = list(v[s:e + 1])
                return out or None
            return match
        # split
        pat = rule["pattern"]
        rx = pat if rule.get("matchType") == "regex" else re.escape(pat)
        flags = re.I if rule.get("ignoreCase") else 0

        def match(s):
            return (s is not None
                    and re.search(rx, s, flags) is not None)
        return match

    def card(self, path: str, version: str, col: str, kind: str,
             rule: dict) -> dict:
        """One recommendation card with matched/unmatched counts and
        highlighted examples over the preview sample (CardGenerator)."""
        sample = self._card_sample(path, version, col)
        fn = self._rule_match_fn(kind, rule)
        matched = unmatched = 0
        examples = []
        for v in sample:
            hit = fn(v)
            ok = hit is not None and hit is not False
            matched += ok
            unmatched += not ok
            if ok and len(examples) < 3 and isinstance(v, str):
                pos = []
                if kind == "extract" and isinstance(hit, str):
                    at = v.find(hit)
                    if at >= 0:
                        pos = [{"offset": at, "length": len(hit)}]
                examples.append({"text": v, "position": pos})
        return {"rule": rule, "matchedCount": matched,
                "unmatchedCount": unmatched, "examples": examples,
                "description": _describe_rule(kind, rule)}

    def cards(self, path: str, version: str, col: str, kind: str,
              selection: dict) -> list[dict]:
        rec = {"extract": recommend_extract,
               "replace": recommend_replace,
               "split": recommend_split,
               "extract_map": recommend_extract_map,
               "extract_list": recommend_extract_list}[kind]
        return [self.card(path, version, col, kind, r)
                for r in rec(selection)]

    # -- clean data card (DatasetVersionResource.getCleanDataCard :1240) ----
    @staticmethod
    def _value_type(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "BOOLEAN"
        if isinstance(v, int):
            return "INTEGER"
        if isinstance(v, float):
            return "FLOAT"
        s = str(v).strip()
        try:
            int(s)
            return "INTEGER"
        except ValueError:
            pass
        try:
            float(s)
            return "FLOAT"
        except ValueError:
            return "TEXT"

    def clean_card(self, path: str, version: str, col: str) -> dict:
        """Type histogram + convert-to-single-type panes over the
        preview sample (the reference runs HistogramGenerator preview
        jobs; the sample is ≤500 cells, evaluated locally)."""
        sample = self._card_sample(path, version, col)
        hist: dict[str, int] = {}
        for v in sample:
            t = self._value_type(v)
            if t == "NULL":
                continue
            hist[t] = hist.get(t, 0) + 1
        total = sum(hist.values())
        convert_to_singles = []
        for want in ("TEXT", "INTEGER", "FLOAT"):
            for cast_when_possible in (True, False):
                if want == "TEXT" or cast_when_possible:
                    # everything text-casts; numbers inter-cast
                    non_matching = (0 if want == "TEXT" else
                                    hist.get("TEXT", 0))
                else:
                    non_matching = total - hist.get(want, 0)
                convert_to_singles.append({
                    "desiredType": want,
                    "castWhenPossible": cast_when_possible,
                    "nonMatchingCount": non_matching})
        return {
            "newFieldName": f"{col}_2",
            "convertToSingles": convert_to_singles,
            "split": [{"type": t,
                       "matchingPercent": (hist.get(t, 0) * 100.0
                                           / total if total else 0.0)}
                      for t in ("TEXT", "INTEGER", "FLOAT")],
            "availableValues": total,
            "availableValuesCount": total}

    # -- value-distribution histogram + selection counts ---------------------
    # (HistogramGenerator.java:58-916: the data behind the column-
    #  details panel and the replace/keeponly/exclude values card.
    #  BUCKETS=200 bins for numeric columns after a MIN/MAX prelim
    #  query; date_trunc-bucketed bins for date/time columns with the
    #  truncation unit chosen so one bin ≈ one unit
    #  (TruncEvalEnum.getSortedAscValues); plain GROUP BY value ordered
    #  by count for text.  Every heavy step is Spark SQL through the
    #  normal engine path — one shuffle on the column, pushdown intact
    #  — and the driver receives a BOUNDED result: ≤ ~BUCKETS binned
    #  rows, and the unbinned arm is top-K-capped (the reference pages
    #  an unbounded values list; at 100 TB a high-cardinality column
    #  would funnel every distinct value through the driver, so we cap
    #  and report the true total separately).)

    def _column_type(self, entry: dict, col: str) -> str:
        for f in entry.get("sqlFields", []):
            if f["name"].lower() == col.lower():
                return f["type"]
        for f in self.engine.sql(entry["sql"]).schema.fields:
            if f.name.lower() == col.lower():
                return data_type_of(f.dataType.simpleString())
        raise ExploreError(f"no column {col!r} in dataset")

    @staticmethod
    def _trunc_unit(duration_seconds: float, buckets: int) -> str:
        """Smallest date_trunc unit whose length covers one bucket
        (HistogramGenerator: range/divisor ≤ 1 walk over
        TruncEvalEnum ascending)."""
        per_bucket = round(duration_seconds / buckets)
        for name, divisor in _TRUNC_UNITS:
            if per_bucket / divisor <= 1:
                return name
        return _TRUNC_UNITS[-1][0]

    @staticmethod
    def _step_trunc(dt, unit: str):
        """Next bin start after `dt` for a date_trunc unit (the
        empty-bin filler's increment; produceRanges' plusX calls)."""
        import datetime as _dt

        fixed = {"SECOND": _dt.timedelta(seconds=1),
                 "MINUTE": _dt.timedelta(minutes=1),
                 "HOUR": _dt.timedelta(hours=1),
                 "DAY": _dt.timedelta(days=1),
                 "WEEK": _dt.timedelta(weeks=1)}
        if unit in fixed:
            return dt + fixed[unit]
        months = {"MONTH": 1, "QUARTER": 3}.get(unit)
        if months is not None:
            m = dt.month - 1 + months
            return dt.replace(year=dt.year + m // 12,
                              month=m % 12 + 1)
        years = {"YEAR": 1, "DECADE": 10, "CENTURY": 100,
                 "MILLENNIUM": 1000}[unit]
        return dt.replace(year=dt.year + years)

    def _sample_inner(self, path: str, version: str,
                      sample_limit: int | None) -> str:
        """The FROM-able source every histogram/selection query of one
        card computation shares.  With a sample limit, the sample is
        MATERIALIZED once per (path, version, limit) — a bare LIMIT
        subquery is nondeterministic per action, so running MIN/MAX,
        the GROUP BY, the COUNT(*) and the selection COUNT over
        independent LIMIT samples could disagree (bins outside the
        prelim [lo, hi], matched > total).  The reference evaluates
        every card number over ONE preview-job results table
        (DatasetsUtil.getDatasetPreviewJob); this is the same shape:
        collect once (≤ the job store's cap), re-register, reuse.
        Versions are immutable, so cached samples never go stale; the
        cache keeps the 8 most recent."""
        entry = self.get_version(path, version)
        if not sample_limit:
            return entry["sql"]
        key = (path, version, int(sample_limit))
        cache = getattr(self, "_hg_samples", None)
        if cache is None:
            cache = self._hg_samples = {}
        view = cache.get(key)
        if view is None:
            import uuid as _uuid

            df = self.engine.sql(entry["sql"]).limit(int(sample_limit))
            rows = df.collect()
            # collision-free name (a hashed name could alias two live
            # keys and silently repoint the older one's view)
            view = f"__hg_sample_{_uuid.uuid4().hex[:12]}"
            meta_df(self.engine.spark, 
                rows, df.schema).createOrReplaceTempView(view)
            cache[key] = view
            while len(cache) > 8:
                old_key = next(iter(cache))
                self.engine.spark.catalog.dropTempView(
                    cache.pop(old_key))
        return f"SELECT * FROM {view}"

    def _hg_exec(self, sql: str, plan_lock=None) -> list:
        """One histogram statement.  With `plan_lock` (a context-
        manager factory, e.g. the REST engine lock): PLAN under the
        lock, EXECUTE the bounded collect outside it — the tracked-job
        shape (_exec_tracked) used by the full-scan mode, so a
        whole-dataset GROUP BY never serializes the server.  Without
        it the caller holds whatever lock it wants around the whole
        card (the sample path's shape)."""
        if plan_lock is None:
            return self.engine.sql(sql).collect()
        with plan_lock():
            df = self.engine.sql(sql)
        return df.collect()

    def value_histogram(self, path: str, version: str, col: str,
                        sample_limit: int | None = None,
                        buckets: int = _HISTOGRAM_BUCKETS,
                        plan_lock=None) -> dict:
        """Column value-distribution (HistogramGenerator.getHistogram):
        returns {"availableValues": [HistogramValue...],
        "availableValuesCount": total}.  `sample_limit` caps the
        examined rows like the reference's preview-job results table
        (None = whole dataset, which is what the oracle-checked
        registered query and the REST ?mode=full job use — exact, and
        still safe to collect because the OUTPUT is bin-/top-K-bounded
        regardless of table size)."""
        entry = self.get_version(path, version)
        inner = self._sample_inner(path, version, sample_limit)
        if plan_lock is None:
            ctype = self._column_type(entry, col)
        else:
            # _column_type's fallback PLANS entry["sql"] for its
            # schema — planning stays serialized on the engine lock in
            # full-scan mode exactly like every _hg_exec statement
            with plan_lock():
                ctype = self._column_type(entry, col)
        q = quote_ident(col)
        values: list[dict] = []
        total = 0

        def _hval(label, count, lo, hi):
            return {"type": ctype, "value": label, "count": count,
                    "percent": 0.0,
                    "valueRange": {"lowerLimit": lo, "upperLimit": hi}}

        binned_rows = None
        if ctype in ("INTEGER", "FLOAT", "DECIMAL"):
            mm = self._hg_exec(
                f"SELECT MIN({q}) AS colMin, MAX({q}) AS colMax "
                f"FROM (\n{inner}\n) __hg", plan_lock)[0]
            if mm["colMin"] is not None:
                lo, hi = float(mm["colMin"]), float(mm["colMax"])
                width = abs(hi - lo) / buckets
                if ctype != "FLOAT":
                    # integer bins round to whole numbers, min 1
                    width = float(round(width)) or (
                        1.0 if abs(hi - lo) > 1 else 0.0)
                if width > 0:
                    binned_rows = self._hg_exec(
                        f"SELECT ROUND(CAST({q} AS DOUBLE)/{width!r})"
                        f"*{width!r} AS dremio_value, COUNT(*) AS "
                        f"dremio_value_count FROM (\n{inner}\n) __hg "
                        f"WHERE {q} IS NOT NULL "
                        f"GROUP BY 1 ORDER BY 1", plan_lock)
                    # ROUND-binning keys are multiples of `width`;
                    # fill empty bins between the observed extremes so
                    # the card renders a continuous axis.  Bin keys
                    # index as round(key/width) — float-exact enough
                    # for bin-sized integers.  Integer widths round
                    # down, so the span can exceed `buckets` bins;
                    # past 2*buckets+2 the zero-fill is skipped (only
                    # OBSERVED bins emitted) rather than ever dropping
                    # counted rows.
                    by_idx = {int(round(r["dremio_value"] / width)):
                              r["dremio_value_count"]
                              for r in binned_rows}
                    if by_idx:
                        i0, i1 = min(by_idx), max(by_idx)
                        fill = (i1 - i0 + 1) <= buckets * 2 + 2
                        idxs = (range(i0, i1 + 1) if fill
                                else sorted(by_idx))
                        for i in idxs:
                            n = by_idx.get(i, 0)
                            k = i * width
                            values.append(_hval(
                                str(k), n, k - width / 2,
                                k + width / 2))
                            total += n
        elif ctype in ("DATE", "DATETIME"):
            # TIME deliberately excluded: datetime.time values don't
            # subtract (no span/total_seconds), so TIME columns route
            # to the group-by-value arm below instead of a 500
            mm = self._hg_exec(
                f"SELECT MIN({q}) AS colMin, MAX({q}) AS colMax "
                f"FROM (\n{inner}\n) __hg", plan_lock)[0]
            if mm["colMin"] is not None:
                duration = (mm["colMax"] - mm["colMin"]
                            ).total_seconds()
                unit = self._trunc_unit(duration, buckets)
                binned_rows = self._hg_exec(
                    f"SELECT date_trunc('{unit}', {q}) AS "
                    f"dremio_value, COUNT(*) AS dremio_value_count "
                    f"FROM (\n{inner}\n) __hg "
                    f"WHERE {q} IS NOT NULL "
                    f"GROUP BY 1 ORDER BY 1", plan_lock)
                by_key = {r["dremio_value"]: r["dremio_value_count"]
                          for r in binned_rows}
                if by_key:
                    kmin, kmax = min(by_key), max(by_key)
                    # pre-walk the fill axis; when the span exceeds
                    # 2*buckets+2 bins degrade to OBSERVED bins only —
                    # a truncated fill would silently drop counted
                    # rows (same class as the integer-arm fix)
                    axis = [kmin]
                    while axis[-1] < kmax and \
                            len(axis) <= buckets * 2 + 2:
                        axis.append(self._step_trunc(axis[-1], unit))
                    if axis[-1] < kmax:
                        axis = sorted(by_key)
                    for k in axis:
                        nxt = self._step_trunc(k, unit)
                        n = by_key.get(k, 0)
                        values.append(_hval(str(k), n, str(k),
                                            str(nxt)))
                        total += n
        if binned_rows is None:
            # text/boolean/degenerate-numeric: plain GROUP BY value,
            # most-frequent first, top-K capped (determinism tiebreak
            # on the value itself); the true total comes from the
            # aggregate, not the capped list
            rows = self._hg_exec(
                f"SELECT {q} AS dremio_value, COUNT(*) AS "
                f"dremio_value_count FROM (\n{inner}\n) __hg "
                f"GROUP BY {q} ORDER BY dremio_value_count DESC, "
                f"dremio_value LIMIT {_HISTOGRAM_MAX_VALUES}",
                plan_lock)
            total = self._hg_exec(
                f"SELECT COUNT(*) AS n FROM (\n{inner}\n) __hg",
                plan_lock)[0]["n"]
            for r in rows:
                v = r["dremio_value"]
                label = None if v is None else str(v)
                values.append(_hval(label, r["dremio_value_count"],
                                    label, label))
        for v in values:
            v["percent"] = (v["count"] * 100.0 / total) if total \
                else 0.0
        return {"availableValues": values,
                "availableValuesCount": total}

    def selection_count(self, path: str, version: str, col: str,
                        selected: list, replace_null: bool = False,
                        sample_limit: int | None = None) -> int:
        """HistogramGenerator.getSelectionCount: COUNT(*) of rows whose
        cell matches any selected value (typed literals, NULL via IS
        NULL; empty strings only match TEXT columns — the reference
        filters them out for every other type)."""
        entry = self.get_version(path, version)
        inner = self._sample_inner(path, version, sample_limit)
        ctype = self._column_type(entry, col)
        q = quote_ident(col)
        preds = []
        for v in selected or []:
            if v is None:
                preds.append(f"{q} IS NULL")
            elif v == "" and ctype != "TEXT":
                continue
            else:
                preds.append(f"{q} = {_sql_literal(v, ctype)}")
        if replace_null:
            preds.append(f"{q} IS NULL")
        if not preds:
            return 0
        sql = (f"SELECT COUNT(*) AS dremio_selection_count FROM "
               f"(\n{inner}\n) __sel WHERE " + " OR ".join(preds))
        return int(self.engine.sql(sql).collect()[0]
                   ["dremio_selection_count"])

    def values_card(self, path: str, version: str, col: str,
                    selected: list | None = None,
                    replace_null: bool = False,
                    sample_limit: int | None = None) -> dict:
        """ReplaceValuesCard (DatasetVersionResource.
        genReplaceValuesCard): histogram + matched/unmatched counts
        for the replace/keeponly/exclude values UI."""
        hist = self.value_histogram(path, version, col,
                                    sample_limit=sample_limit)
        matched = self.selection_count(
            path, version, col, selected or [],
            replace_null=replace_null, sample_limit=sample_limit)
        total = hist["availableValuesCount"]
        # clamp: the binned arms exclude NULL rows from the total
        # (like the reference's histogram, which `continue`s null
        # bins) while a replaceNull/None selection COUNTS them — the
        # reference would render a negative unmatched count here
        return {"availableValues": hist["availableValues"],
                "matchedValues": matched,
                "unmatchedValues": max(total - matched, 0),
                "availableValuesCount": total}

    # -- join recommendations (JoinRecommender.recommendJoins) ---------------
    def join_recommendations(self, path: str, version: str) -> dict:
        """Suggest equi-joins against catalog tables sharing column
        names with the current output schema (the reference mixes FK
        hints and past-join history; name-match is the cold-start
        heuristic both use first).  Pure catalog-metadata work."""
        entry = self.get_version(path, version)
        mine = {f["name"] for f in entry.get("sqlFields", [])}
        recs = []
        try:
            tables = [r["table_name"] for r in
                      self.engine.information_schema_tables()
                      .select("table_name").collect()]
        except Exception:  # noqa: BLE001 — no catalog, no recs
            tables = []
        base = entry["state"].get("from", {})
        base_table = (base.get("table", {}).get("datasetPath")
                      if base.get("type") == "Table" else None)
        for t in sorted(set(tables)):
            if t == base_table:
                continue
            try:
                cols = {f.name for f in
                        self.engine.table(t).schema.fields}
            except Exception:  # noqa: BLE001
                continue
            shared = sorted(mine & cols)
            if shared:
                recs.append({
                    "joinType": "Inner",
                    "rightTableFullPathList": t.split("."),
                    "matchingKeys": {c: c for c in shared}})
        return {"recommendations": recs}

    # -- reapply (editOriginalSql :999 / reapplyAndSave :1029) ---------------
    def reapply(self, path: str, version: str,
                new_version: str) -> dict:
        """Re-derive the head by replaying the history's transform
        chain from the root state — the reference's editOriginalSql
        (Transformer.editOriginalSql :143).  Proves the stored chain
        regenerates the same SQL (the 'transforms are the source of
        truth' contract)."""
        chain: list[tuple[str, str]] = []
        seen: set[tuple[str, str]] = set()
        p, v = path, version
        while True:
            if (p, v) in seen:  # defensive: corrupt back-links must
                raise ExploreError(  # not hang the server
                    f"version chain cycle at {p}@{v}")
            seen.add((p, v))
            entry = self.get_version(p, v)
            chain.append((p, v))
            prev = entry.get("previousVersion")
            if not prev:
                break
            p, v = prev["datasetPath"], prev["datasetVersion"]
        chain.reverse()  # root first
        root_path, root_version = chain[0]
        cur = self.get_version(root_path, root_version)
        state = cur["state"]
        for (cp, cv) in chain[1:]:
            t = self.get_version(cp, cv).get("lastTransform")
            if t is None:
                raise ExploreError(
                    f"version {cv} has no recorded transform")
            state = self.transformer.apply(state, t)
        sql = generate_sql(state)
        return self._put(path, new_version, {
            "state": state, "sql": sql,
            "name": self.get_version(path, version).get("name",
                                                        "UNTITLED"),
            "derivation": "DERIVED_VIRTUAL",
            "lastTransform": self.get_version(
                path, version).get("lastTransform"),
            "previousVersion": {"datasetPath": path,
                                "datasetVersion": version},
            "sqlFields": self._fields_of(sql)})


def _describe_rule(kind: str, rule: dict) -> str:
    if kind == "extract":
        if rule["type"] == "position":
            p = rule["position"]
            return (f"Extract characters {p['startIndex']['value']} - "
                    f"{p['endIndex']['value']}")
        return f"Extract pattern {rule['pattern']['pattern']}"
    if kind == "replace":
        sel = rule["selectionType"]
        if sel == "IS_NULL":
            return "Replace null values"
        return f"{sel.replace('_', ' ').title()} " \
               f"{rule.get('selectionPattern', '')}"
    if kind == "extract_map":
        # ExtractMapTransformRuleWrapper.describe
        return f"extract from map {rule['path']}"
    if kind == "extract_list":
        if rule["type"] == "single":
            return f"Extract list element {rule['single']['index']}"
        s = rule["multiple"]["selection"]
        return (f"Extract list elements {s['start']['value']} "
                f"({s['start']['direction']}) - {s['end']['value']} "
                f"({s['end']['direction']})")
    return f"Split on {rule.get('pattern', '')!r}"
