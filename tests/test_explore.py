"""Dataset explore/transform service tests — the visual-curation chain
(new_untitled → transforms → preview → save) value-checked against
hand-written DuckDB SQL (DatasetVersionResource.java / Transformer.java
/ SQLGenerator.java behaviors)."""

from __future__ import annotations

import pytest

from dremio_oss_spark.engine import (
    ConcurrentModificationError,
    Engine,
)
from dremio_oss_spark.explore import (
    ExploreError,
    ExploreService,
    StateMutator,
    VersionNotFoundError,
    expr_sql,
    generate_sql,
)
from tests.conftest import SF_SMALL
from tests.oracle import compare, duckdb_conn


@pytest.fixture(scope="module")
def svc(spark):
    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    return ExploreService(eng)


@pytest.fixture(scope="module")
def oracle():
    con = duckdb_conn(SF_SMALL)
    yield con
    con.close()


def test_new_untitled_preview_matches_parent(svc, oracle):
    entry = svc.new_untitled_from_table("region", "v0")
    assert entry["sql"].startswith("SELECT r_regionkey")
    out = svc.preview("tmp.UNTITLED", "v0", limit=100)
    assert out["data"]["returnedRowCount"] == 5
    assert [c["name"] for c in out["data"]["columns"]][:2] == [
        "r_regionkey", "r_name"]
    assert out["history"]["items"][0]["transformDescription"] == "Created"


def test_transform_chain_matches_oracle(svc, oracle):
    """Chain 4 transforms over orders; every intermediate preview and
    the final result value-match the equivalent hand-written SQL (the
    VERDICT 'done' bar for the explore surface).  Each version's stored
    fields, derived over a stand-in for the previous version, equal a
    full analysis of its SQL."""
    probes = getattr(svc, "_probe_seq", 0)
    svc.new_untitled_from_table("orders", "c0")
    # 1: filter to F-status rows
    svc.transform("tmp.UNTITLED", "c0", {
        "type": "filter", "sourceColumnName": "o_orderstatus",
        "filter": {"type": "Value",
                   "value": {"values": ["F"], "dataType": "TEXT"}}},
        "c1")
    p = compare(svc.engine.sql(svc.get_version("tmp.UNTITLED", "c1")["sql"]),
                oracle.execute(
                    "SELECT * FROM orders WHERE o_orderstatus IN ('F')"
                ).fetchdf())
    assert not p, p
    # 2: calculated field (nests: the expression may use any column)
    svc.transform("tmp.UNTITLED", "c1", {
        "type": "addCalculatedField", "newColumnName": "custmod",
        "sourceColumnName": "o_custkey",
        "expression": "o_custkey % 5", "dropSourceColumn": False},
        "c2")
    sql2 = svc.get_version("tmp.UNTITLED", "c2")["sql"]
    assert "nested_0" in sql2  # addCalculatedField nests unconditionally
    # 3: group by priority
    svc.transform("tmp.UNTITLED", "c2", {
        "type": "groupBy",
        "columnsDimensions": [{"column": "o_orderpriority"}],
        "columnsMeasures": [
            {"type": "Count_Star"},
            {"type": "Sum", "column": "custmod"},
            {"type": "Maximum", "column": "o_totalprice"}]},
        "c3")
    # 4: deterministic order
    svc.transform("tmp.UNTITLED", "c3", {
        "type": "sort", "sortedColumnName": "o_orderpriority",
        "order": "ASC"}, "c4")
    final_sql = svc.get_version("tmp.UNTITLED", "c4")["sql"]
    p = compare(
        svc.engine.sql(final_sql),
        oracle.execute("""
            SELECT o_orderpriority,
                   count(*) AS Count_Star,
                   CAST(SUM(o_custkey % 5) AS BIGINT) AS Sum_custmod,
                   MAX(o_totalprice) AS Maximum_o_totalprice
            FROM orders WHERE o_orderstatus IN ('F')
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """).fetchdf(),
        ordered=True)
    assert not p, p
    # history walks the chain oldest-first
    hist = svc.history("tmp.UNTITLED", "c4")
    assert [i["datasetVersion"] for i in hist["items"]] == [
        "c0", "c1", "c2", "c3", "c4"]
    assert hist["items"][1]["transformDescription"] == \
        "Filtered on o_orderstatus"
    assert getattr(svc, "_probe_seq", 0) > probes  # the stand-in path ran
    for v in ("c0", "c1", "c2", "c3", "c4"):
        entry = svc.get_version("tmp.UNTITLED", v)
        assert entry["sqlFields"] == svc._fields_of(entry["sql"]), v


def test_group_by_on_grouped_state_nests(svc, oracle):
    svc.new_untitled_from_table("nation", "g0")
    svc.transform("tmp.UNTITLED", "g0", {
        "type": "groupBy",
        "columnsDimensions": [{"column": "n_regionkey"}],
        "columnsMeasures": [{"type": "Count_Star"}]}, "g1")
    # second group-by must wrap the first in a subquery
    svc.transform("tmp.UNTITLED", "g1", {
        "type": "groupBy", "columnsDimensions": [],
        "columnsMeasures": [{"type": "Sum", "column": "Count_Star"},
                            {"type": "Maximum",
                             "column": "n_regionkey"}]}, "g2")
    sql = svc.get_version("tmp.UNTITLED", "g2")["sql"]
    assert "nested_0" in sql
    p = compare(
        svc.engine.sql(sql),
        oracle.execute("""
            SELECT CAST(SUM(Count_Star) AS BIGINT) AS Sum_Count_Star,
                   MAX(n_regionkey) AS Maximum_n_regionkey
            FROM (SELECT n_regionkey, count(*) AS Count_Star
                  FROM nation GROUP BY n_regionkey) nested_0
        """).fetchdf())
    assert not p, p


def test_field_transforms_match_oracle(svc, oracle):
    """convertCase / trim / extract / replace / split compile to SQL
    whose values match DuckDB equivalents."""
    svc.new_untitled_from_table("region", "f0")
    # UPPER via convertCase, keep source
    svc.transform("tmp.UNTITLED", "f0", {
        "type": "convertCase", "columnName": "r_name",
        "convertCase": "LOWER_CASE", "newColumnName": "lower_name",
        "dropSourceColumn": False}, "f1")
    # extract first 3 chars by position
    svc.transform("tmp.UNTITLED", "f1", {
        "type": "extract", "sourceColumnName": "r_name",
        "newColumnName": "prefix3",
        "rule": {"type": "position", "position": {
            "startIndex": {"value": 0, "direction": "FROM_THE_START"},
            "endIndex": {"value": 2, "direction": "FROM_THE_START"}}},
        "dropSourceColumn": False}, "f2")
    # replace pattern: AMERICA -> AM (selection replacement)
    svc.transform("tmp.UNTITLED", "f2", {
        "type": "field", "sourceColumnName": "r_name",
        "newColumnName": "patched", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ReplacePattern",
            "replace": {"rule": {"selectionType": "CONTAINS",
                                 "selectionPattern": "ERICA"},
                        "replaceType": "SELECTION",
                        "replacementValue": "_X_"}}}, "f3")
    # split on the letter E, take the first token
    svc.transform("tmp.UNTITLED", "f3", {
        "type": "field", "sourceColumnName": "r_name",
        "newColumnName": "first_word", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "Split", "split": {
                "rule": {"pattern": "E", "matchType": "exact",
                         "ignoreCase": False},
                "position": "FIRST"}}}, "f4")
    sql = svc.get_version("tmp.UNTITLED", "f4")["sql"]
    p = compare(
        svc.engine.sql(sql).select(
            "r_regionkey", "lower_name", "prefix3", "patched",
            "first_word"),
        oracle.execute("""
            SELECT r_regionkey,
                   LOWER(r_name) AS lower_name,
                   SUBSTRING(r_name, 1, 3) AS prefix3,
                   REGEXP_REPLACE(r_name, 'ERICA', '_X_') AS patched,
                   STR_SPLIT(r_name, 'E')[1] AS first_word
            FROM region
        """).fetchdf())
    assert not p, p


def test_join_transform_matches_oracle(svc, oracle):
    svc.new_untitled_from_table("nation", "j0")
    svc.transform("tmp.UNTITLED", "j0", {
        "type": "join", "joinType": "Inner",
        "rightTableFullPathList": ["region"],
        "joinConditionsList": [{"leftColumn": "n_regionkey",
                                "rightColumn": "r_regionkey"}]}, "j1")
    sql = svc.get_version("tmp.UNTITLED", "j1")["sql"]
    assert "join_region" in sql
    p = compare(
        svc.engine.sql(sql).select("n_name", "r_name"),
        oracle.execute("""
            SELECT n_name, r_name FROM nation
            JOIN region ON n_regionkey = r_regionkey
        """).fetchdf())
    assert not p, p


def test_modifying_sorted_column_nests(svc):
    svc.new_untitled_from_table("region", "s0")
    svc.transform("tmp.UNTITLED", "s0", {
        "type": "sort", "sortedColumnName": "r_name",
        "order": "DESC"}, "s1")
    # converting the sorted column wraps the sorted query first
    svc.transform("tmp.UNTITLED", "s1", {
        "type": "convertCase", "columnName": "r_name",
        "convertCase": "TITLE_CASE", "newColumnName": "r_name",
        "dropSourceColumn": True}, "s2")
    sql = svc.get_version("tmp.UNTITLED", "s2")["sql"]
    assert "nested_0" in sql
    rows = svc.engine.sql(sql).collect()
    assert [r["r_name"] for r in rows][:2] == ["Middle East", "Europe"]


def test_transform_peek_is_ephemeral(svc):
    svc.new_untitled_from_table("region", "p0")
    out = svc.transform_peek("tmp.UNTITLED", "p0", {
        "type": "drop", "droppedColumnName": "r_name"}, limit=10)
    assert out["data"]["returnedRowCount"] == 5
    # peek stores nothing
    with pytest.raises(VersionNotFoundError):
        svc.get_version("tmp.UNTITLED", "p0-peek")
    # preview-mode drop keeps the column marked, not removed
    cols = [c["name"] for c in out["data"]["columns"]]
    assert "r_name" in cols


def test_save_as_vds_occ_and_roundtrip(svc):
    svc.new_untitled_from_table("region", "sv0")
    svc.transform("tmp.UNTITLED", "sv0", {
        "type": "rename", "oldColumnName": "r_name",
        "newColumnName": "region_name"}, "sv1")
    out = svc.save("tmp.UNTITLED", "sv1", "curated.regions_renamed")
    tag = out["dataset"]["savedTag"]
    assert tag
    # the saved VDS answers SQL through the engine
    rows = svc.engine.sql(
        "select region_name from curated.regions_renamed "
        "order by region_name").collect()
    assert rows[0]["region_name"] == "AFRICA"
    # regenerated SQL round-trips: stored VDS text == generated text
    assert svc.engine.spaces["curated"].vds["regions_renamed"] == \
        svc.get_version("tmp.UNTITLED", "sv1")["sql"]
    # stale/missing tag clobbers are refused (OCC)
    with pytest.raises(ConcurrentModificationError):
        svc.save("tmp.UNTITLED", "sv1", "curated.regions_renamed")
    # correct tag overwrites
    out2 = svc.save("tmp.UNTITLED", "sv1", "curated.regions_renamed",
                    saved_tag=tag)
    assert out2["dataset"]["savedTag"] != tag


def test_new_untitled_sql_and_update_sql(svc, oracle):
    svc.new_untitled_sql(
        "SELECT n_regionkey, count(*) AS cnt FROM nation "
        "GROUP BY n_regionkey", "q0")
    entry = svc.get_version("tmp.UNTITLED", "q0")
    assert "nested_0" not in entry["sql"] or "FROM (" in entry["sql"]
    p = compare(
        svc.engine.sql(entry["sql"]),
        oracle.execute(
            "SELECT n_regionkey, count(*) AS cnt FROM nation "
            "GROUP BY n_regionkey").fetchdf())
    assert not p, p
    # updateSQL replaces the whole state
    svc.transform("tmp.UNTITLED", "q0", {
        "type": "updateSQL",
        "sql": "SELECT r_name FROM region"}, "q1")
    assert svc.get_version(
        "tmp.UNTITLED", "q1")["sqlFields"] == [
        {"name": "r_name", "type": "TEXT"}]


def test_recommendation_cards(svc):
    svc.new_untitled_from_table("customer", "r0")
    sel = {"colName": "c_name", "cellText": "Customer#000000001",
           "offset": 9, "length": 9}
    cards = svc.cards("tmp.UNTITLED", "r0", "c_name", "extract", sel)
    assert cards, "extract recommender returned no cards"
    # the position card matches every sampled customer name
    pos = cards[0]
    assert pos["rule"]["type"] == "position"
    assert pos["matchedCount"] > 0 and pos["unmatchedCount"] == 0
    assert pos["examples"] and pos["examples"][0]["position"]
    # replace cards: CONTAINS on the selection
    rcards = svc.cards("tmp.UNTITLED", "r0", "c_name", "replace", sel)
    assert any(c["rule"]["selectionType"] == "CONTAINS"
               for c in rcards)
    contains = next(c for c in rcards
                    if c["rule"]["selectionType"] == "CONTAINS")
    assert contains["matchedCount"] >= 1
    # split cards on the # separator inside customer names
    sel2 = {"colName": "c_name", "cellText": "Customer#000000001",
            "offset": 8, "length": 1}
    scards = svc.cards("tmp.UNTITLED", "r0", "c_name", "split", sel2)
    assert scards and scards[0]["matchedCount"] > 0
    assert scards[0]["unmatchedCount"] == 0  # every name has a '#'
    # the recommended extract rule, applied as a transform, yields the
    # selected fragment
    svc.transform("tmp.UNTITLED", "r0", {
        "type": "extract", "sourceColumnName": "c_name",
        "newColumnName": "cust_id", "rule": pos["rule"],
        "dropSourceColumn": False}, "r1")
    row = svc.engine.sql(
        svc.get_version("tmp.UNTITLED", "r1")["sql"]).select(
        "c_name", "cust_id").first()
    assert row["cust_id"] == row["c_name"][9:18]


def test_errors_are_client_errors(svc):
    svc.new_untitled_from_table("region", "e0")
    with pytest.raises(ExploreError, match="Invalid col name"):
        svc.transform("tmp.UNTITLED", "e0", {
            "type": "drop", "droppedColumnName": "nope"}, "e1")
    with pytest.raises(ExploreError, match="bound"):
        svc.transform("tmp.UNTITLED", "e0", {
            "type": "filter", "sourceColumnName": "r_name",
            "filter": {"type": "Range", "range": {
                "dataType": "TEXT"}}}, "e1")
    with pytest.raises(VersionNotFoundError):
        svc.preview("tmp.UNTITLED", "missing-version")
    with pytest.raises(ExploreError, match="already exists"):
        StateMutator({"columns": [
            {"name": "a", "value": {"type": "ColumnReference",
                                    "col": {"name": "a"}}}],
            "from": {"type": "Table",
                     "table": {"datasetPath": "t"}}}).apply(
            "a", "a", {"type": "ColumnReference",
                       "col": {"name": "a"}}, drop_source=False)


def test_expression_sql_shapes():
    """Unit coverage of generator corners: quoting, measures, filters."""
    assert expr_sql({"type": "Measure",
                     "measure": {"measureType": "Count_Star"}}) == \
        "COUNT(*)"
    assert expr_sql(
        {"type": "Measure",
         "measure": {"measureType": "Count_Distinct",
                     "operand": {"type": "ColumnReference",
                                 "col": {"name": "x"}}}}) == \
        "COUNT(DISTINCT x)"
    # reserved word and odd chars quote
    assert expr_sql({"type": "ColumnReference",
                     "col": {"name": "select"}}) == "`select`"
    assert expr_sql({"type": "ColumnReference",
                     "col": {"name": "a b", "table": "t"}}) == \
        "t.`a b`"
    state = {"columns": [{"name": "n", "value": {
        "type": "ColumnReference", "col": {"name": "n"}}}],
        "from": {"type": "Table", "table": {"datasetPath": "t"}},
        "filters": [{"operand": {"type": "ColumnReference",
                                 "col": {"name": "n"}},
                     "filterDef": {"type": "Range", "range": {
                         "lowerBound": "3", "dataType": "INTEGER",
                         "lowerBoundInclusive": False}},
                     "keepNull": True, "exclude": True}]}
    sql = generate_sql(state)
    assert "NOT ((n > 3 OR n IS NULL))" in sql


def test_reapply_regenerates_identical_sql(svc):
    """editOriginalSql contract: replaying the stored transform chain
    from the root state regenerates EXACTLY the head version's SQL —
    transforms, not SQL text, are the source of truth."""
    svc.new_untitled_from_table("nation", "ra0")
    svc.transform("tmp.UNTITLED", "ra0", {
        "type": "rename", "oldColumnName": "n_name",
        "newColumnName": "nation_name"}, "ra1")
    svc.transform("tmp.UNTITLED", "ra1", {
        "type": "filter", "sourceColumnName": "n_regionkey",
        "filter": {"type": "Range", "range": {
            "lowerBound": "2", "dataType": "INTEGER"}}}, "ra2")
    svc.transform("tmp.UNTITLED", "ra2", {
        "type": "groupBy",
        "columnsDimensions": [{"column": "n_regionkey"}],
        "columnsMeasures": [{"type": "Count_Star"}]}, "ra3")
    head_sql = svc.get_version("tmp.UNTITLED", "ra3")["sql"]
    out = svc.reapply("tmp.UNTITLED", "ra3", "ra4")
    assert out["sql"] == head_sql
    rows = {r["n_regionkey"]: r["Count_Star"]
            for r in svc.engine.sql(out["sql"]).collect()}
    assert rows == {2: 5, 3: 5, 4: 5}


def test_clean_card_and_join_recs(svc):
    svc.new_untitled_from_table("nation", "cc0")
    # numeric string column via calculated field: mixed-type probe
    svc.transform("tmp.UNTITLED", "cc0", {
        "type": "addCalculatedField", "newColumnName": "mixed",
        "sourceColumnName": "n_name",
        "expression": "CASE WHEN n_nationkey % 2 = 0 "
                      "THEN CAST(n_nationkey AS STRING) "
                      "ELSE n_name END",
        "dropSourceColumn": False}, "cc1")
    card = svc.clean_card("tmp.UNTITLED", "cc1", "mixed")
    split = {s["type"]: s["matchingPercent"] for s in card["split"]}
    assert 0 < split["INTEGER"] < 100
    assert 0 < split["TEXT"] < 100
    assert card["availableValues"] == 25
    # convert-to-INTEGER (strict) reports the TEXT cells non-matching
    strict = next(c for c in card["convertToSingles"]
                  if c["desiredType"] == "INTEGER"
                  and not c["castWhenPossible"])
    assert strict["nonMatchingCount"] == 12  # 12 odd keys keep names
    # join recommendations: nation shares n_regionkey-ish names?
    # region/nation share no identical names, so derive a shared col
    svc.transform("tmp.UNTITLED", "cc1", {
        "type": "rename", "oldColumnName": "n_regionkey",
        "newColumnName": "r_regionkey"}, "cc2")
    recs = svc.join_recommendations("tmp.UNTITLED", "cc2")
    paths = {".".join(r["rightTableFullPathList"])
             for r in recs["recommendations"]}
    assert "region" in paths
    rec = next(r for r in recs["recommendations"]
               if r["rightTableFullPathList"] == ["region"])
    assert rec["matchingKeys"] == {"r_regionkey": "r_regionkey"}


def test_review_findings_r12_regressions(svc):
    """Regression pins for this round's self-review findings:
    self-referential newVersion refused (cycle guard), reapply
    refuses corrupted chains instead of hanging, DELETE_RECORDS
    actually deletes (nests so the filter sees the cast result),
    MATCHES+ignoreCase consistent, join condition validation."""
    svc.new_untitled_from_table("nation", "rg0")
    # newVersion == version refused (was: stored a self-cycle that
    # hung reapply forever under the engine lock)
    with pytest.raises(ExploreError, match="must differ"):
        svc.transform("tmp.UNTITLED", "rg0", {
            "type": "drop", "droppedColumnName": "n_name"}, "rg0")
    # a manually-corrupted back-link raises instead of hanging
    svc.transform("tmp.UNTITLED", "rg0", {
        "type": "drop", "droppedColumnName": "n_name"}, "rg1")
    entry = svc.get_version("tmp.UNTITLED", "rg1")
    entry["previousVersion"] = {"datasetPath": "tmp.UNTITLED",
                                "datasetVersion": "rg1"}
    with pytest.raises(ExploreError, match="cycle"):
        svc.reapply("tmp.UNTITLED", "rg1", "rg2")
    entry["previousVersion"] = {"datasetPath": "tmp.UNTITLED",
                                "datasetVersion": "rg0"}
    # DELETE_RECORDS deletes rows whose cast fails (was: the WHERE
    # resolved the raw base column in the same SELECT and kept them)
    svc.transform("tmp.UNTITLED", "rg0", {
        "type": "addCalculatedField", "newColumnName": "maybe_num",
        "sourceColumnName": "n_name",
        "expression": "CASE WHEN n_nationkey % 2 = 0 "
                      "THEN CAST(n_nationkey AS STRING) "
                      "ELSE n_name END",
        "dropSourceColumn": False}, "dr1")
    svc.transform("tmp.UNTITLED", "dr1", {
        "type": "field", "sourceColumnName": "maybe_num",
        "newColumnName": "as_int", "dropSourceColumn": True,
        "fieldTransformation": {
            "type": "ConvertToTypeIfPossible",
            "convertToTypeIfPossible": {
                "desiredType": "INTEGER",
                "actionForNonMatchingValue": "DELETE_RECORDS"}}},
        "dr2")
    rows = svc.engine.sql(
        svc.get_version("tmp.UNTITLED", "dr2")["sql"]).collect()
    assert len(rows) == 13  # only the 13 even keys cast
    assert all(r["as_int"] is not None for r in rows)
    # MATCHES + ignoreCase: card evaluator and filter SQL agree
    from dremio_oss_spark.explore import (
        ExploreService as _ES,
        _pattern_cond_sql,
    )

    rule = {"selectionType": "MATCHES",
            "selectionPattern": "^nation_1$", "ignoreCase": True}
    assert _ES._rule_match_fn("replace", rule)("NATION_1")
    assert "(?i)" in _pattern_cond_sql(rule, "c")
    row = svc.engine.sql(
        "select count(*) as n from nation "
        f"where {_pattern_cond_sql(rule, 'n_name')}").first()
    assert row["n"] == 1
    # bad join condition -> clear client error, not list.remove noise
    with pytest.raises(ExploreError, match="join condition"):
        svc.transform("tmp.UNTITLED", "rg0", {
            "type": "join", "joinType": "Inner",
            "rightTableFullPathList": ["region"],
            "joinConditionsList": [
                {"leftColumn": "n_regionkey",
                 "rightColumn": "no_such_col"}]}, "rgj")


def test_field_transform_range_extract_and_date_number(svc):
    """The remaining FieldTransformation kinds (explore.proto:759-769):
    ReplaceRange, ExtractList single/multiple, ExtractMap,
    ConvertNumberToDate/DateToNumber round-trip, and the
    pattern-gated date cast — each value-checked through the
    generated SQL."""
    svc.new_untitled_from_table("nation", "ft0")
    # ReplaceRange: keys in [5, 10) -> -1
    svc.transform("tmp.UNTITLED", "ft0", {
        "type": "field", "sourceColumnName": "n_nationkey",
        "newColumnName": "k2", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ReplaceRange", "replaceRange": {
                "lowerBound": "5", "upperBound": "10",
                "lowerBoundInclusive": True,
                "replacementValue": "-1",
                "replacementType": "INTEGER"}}}, "ft1")
    rows = {r["n_nationkey"]: r["k2"] for r in svc.engine.sql(
        svc.get_version("tmp.UNTITLED", "ft1")["sql"]).collect()}
    assert all(v == -1 for k, v in rows.items() if 5 <= k < 10)
    assert all(v == k for k, v in rows.items() if not 5 <= k < 10)
    # ExtractList single + multiple over a split array
    svc.transform("tmp.UNTITLED", "ft0", {
        "type": "addCalculatedField", "newColumnName": "phrase",
        "sourceColumnName": "n_name",
        "expression": "CONCAT(n_name, ' region ', "
                      "CAST(n_regionkey AS STRING), ' tail')",
        "dropSourceColumn": False}, "fl0")
    svc.transform("tmp.UNTITLED", "fl0", {
        "type": "field", "sourceColumnName": "phrase",
        "newColumnName": "words", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "Split", "split": {
                "rule": {"pattern": " ", "matchType": "exact"},
                "position": "ALL"}}}, "fl1")
    svc.transform("tmp.UNTITLED", "fl1", {
        "type": "field", "sourceColumnName": "words",
        "newColumnName": "w0", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ExtractList", "extractList": {"rule": {
                "type": "single", "single": {"index": 0}}}}}, "fl2")
    svc.transform("tmp.UNTITLED", "fl2", {
        "type": "field", "sourceColumnName": "words",
        "newColumnName": "w01", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ExtractList", "extractList": {"rule": {
                "type": "multiple", "multiple": {"selection": {
                    "start": {"value": 0,
                              "direction": "FROM_THE_START"},
                    "end": {"value": 1,
                            "direction": "FROM_THE_START"}}}}}}},
        "fl3")
    out = svc.engine.sql(
        svc.get_version("tmp.UNTITLED", "fl3")["sql"]).collect()
    for r in out:
        toks = r["phrase"].split(" ")
        assert r["w0"] == toks[0]
        assert list(r["w01"]) == toks[0:2]
    # from-the-end selection: last two tokens
    svc.transform("tmp.UNTITLED", "fl3", {
        "type": "field", "sourceColumnName": "words",
        "newColumnName": "wlast2", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ExtractList", "extractList": {"rule": {
                "type": "multiple", "multiple": {"selection": {
                    "start": {"value": 1,
                              "direction": "FROM_THE_END"},
                    "end": {"value": 0,
                            "direction": "FROM_THE_END"}}}}}}},
        "fl4")
    for r in svc.engine.sql(
            svc.get_version("tmp.UNTITLED", "fl4")["sql"]).collect():
        assert list(r["wlast2"]) == r["phrase"].split(" ")[-2:]
    # ConvertNumberToDate(EPOCH) then DateToNumber(EPOCH) round-trips
    svc.transform("tmp.UNTITLED", "ft0", {
        "type": "addCalculatedField", "newColumnName": "epoch_s",
        "sourceColumnName": "n_nationkey",
        "expression": "CAST(n_nationkey AS BIGINT) * 86400",
        "dropSourceColumn": False}, "nd1")
    svc.transform("tmp.UNTITLED", "nd1", {
        "type": "field", "sourceColumnName": "epoch_s",
        "newColumnName": "as_ts", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ConvertNumberToDate", "numberToDate": {
                "format": "EPOCH", "desiredType": "DATETIME"}}},
        "nd2")
    svc.transform("tmp.UNTITLED", "nd2", {
        "type": "field", "sourceColumnName": "as_ts",
        "newColumnName": "back_s", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ConvertDateToNumber", "dateToNumber": {
                "format": "EPOCH", "desiredType": "INTEGER",
                "convertType": "DATETIME"}}}, "nd3")
    for r in svc.engine.sql(
            svc.get_version("tmp.UNTITLED", "nd3")["sql"]).collect():
        assert r["back_s"] == r["epoch_s"]
    # EXCEL day serial: 1970-01-01 epoch == serial 25569
    svc.transform("tmp.UNTITLED", "nd2", {
        "type": "field", "sourceColumnName": "as_ts",
        "newColumnName": "excel_d", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ConvertDateToNumber", "dateToNumber": {
                "format": "EXCEL", "desiredType": "INTEGER",
                "convertType": "DATETIME"}}}, "nd4")
    for r in svc.engine.sql(
            svc.get_version("tmp.UNTITLED", "nd4")["sql"]).collect():
        assert r["excel_d"] == 25569 + (
            r["epoch_s"] + 86399) // 86400  # CEIL of day fraction
    # pattern-gated date cast: bad rows -> NULL, good rows parse
    svc.transform("tmp.UNTITLED", "ft0", {
        "type": "addCalculatedField", "newColumnName": "maybe_date",
        "sourceColumnName": "n_name",
        "expression": "CASE WHEN n_nationkey % 2 = 0 "
                      "THEN '2024/01/15' ELSE n_name END",
        "dropSourceColumn": False}, "pd1")
    svc.transform("tmp.UNTITLED", "pd1", {
        "type": "field", "sourceColumnName": "maybe_date",
        "newColumnName": "as_date", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ConvertToTypeWithPatternIfPossible",
            "toTypeWithPatternIfPossible": {
                "desiredType": "DATE", "pattern": "yyyy/MM/dd",
                "actionForNonMatchingValue": "REPLACE_WITH_NULL"}}},
        "pd2")
    rows = svc.engine.sql(
        svc.get_version("tmp.UNTITLED", "pd2")["sql"]).collect()
    assert sum(r["as_date"] is not None for r in rows) == 13
    assert all(str(r["as_date"]) == "2024-01-15"
               for r in rows if r["as_date"] is not None)


def test_extract_map_and_split_by_data_type(svc):
    """ExtractMap JSON-path access (ExtractMapRecommender :75) and
    TransformSplitByDataType (TransformActor :693)."""
    # build a struct column via calculated field
    svc.new_untitled_from_table("nation", "em0")
    svc.transform("tmp.UNTITLED", "em0", {
        "type": "addCalculatedField", "newColumnName": "obj",
        "sourceColumnName": "n_name",
        "expression": "NAMED_STRUCT('a', NAMED_STRUCT('b', "
                      "ARRAY(n_nationkey, n_regionkey)), "
                      "'name', n_name)",
        "dropSourceColumn": False}, "em1")
    svc.transform("tmp.UNTITLED", "em1", {
        "type": "field", "sourceColumnName": "obj",
        "newColumnName": "second", "dropSourceColumn": False,
        "fieldTransformation": {
            "type": "ExtractMap", "extractMap": {
                "rule": {"path": "a.b[1]"}}}}, "em2")
    for r in svc.engine.sql(
            svc.get_version("tmp.UNTITLED", "em2")["sql"]).collect():
        assert r["second"] == r["n_regionkey"]
    # splitByDataType over a mixed text column
    svc.transform("tmp.UNTITLED", "em0", {
        "type": "addCalculatedField", "newColumnName": "mixed",
        "sourceColumnName": "n_name",
        "expression": "CASE WHEN n_nationkey % 2 = 0 "
                      "THEN CAST(n_nationkey AS STRING) "
                      "ELSE n_name END",
        "dropSourceColumn": False}, "sp1")
    svc.transform("tmp.UNTITLED", "sp1", {
        "type": "splitByDataType", "sourceColumnName": "mixed",
        "newColumnNamePrefix": "mixed_", "dropSourceColumn": True,
        "selectedTypesList": ["INTEGER", "TEXT"]}, "sp2")
    entry = svc.get_version("tmp.UNTITLED", "sp2")
    names = [f["name"] for f in entry["sqlFields"]]
    assert "mixed_INTEGER" in names and "mixed_TEXT" in names
    assert "mixed" not in names
    rows = svc.engine.sql(entry["sql"]).collect()
    assert sum(r["mixed_INTEGER"] is not None for r in rows) == 13
    # TEXT cast accepts everything (the reference's split panes do
    # too — TEXT is the catch-all)
    assert all(r["mixed_TEXT"] is not None for r in rows)
    # lookup matches the reference's own NYI refusal
    with pytest.raises(ExploreError, match="lookup"):
        svc.transform("tmp.UNTITLED", "em0", {
            "type": "lookup", "lookedUpColumnName": "n_name",
            "lookedUpTableName": "region",
            "lookedUpTableKeyColumnName": "r_name"}, "lk1")


def test_sublist_and_replace_range_property(svc):
    """Property check of the new generator arithmetic: 120 random
    ListSelection (value x direction on both ends) and ReplaceRange
    (bound presence x inclusivity) cases evaluated in ONE Spark
    statement each, compared against plain-Python models of the
    reference semantics (ends inclusive; sublist offset 1-based with
    negative-from-the-end; range bounds quoted as the replacement
    type).  Randomness is seeded — failures reproduce."""
    import random

    from dremio_oss_spark.explore import (
        _field_transform_sql,
        _json_path_sql,
        _sublist_sql,
    )

    rng = random.Random(12)
    arrs = [[f"t{i}_{j}" for j in range(rng.randint(0, 6))]
            for i in range(8)]

    def py_sublist(arr, s_val, s_end, e_val, e_end):
        n = len(arr)
        start = (n - s_val - 1) if s_end else s_val
        end = (n - e_val - 1) if e_end else e_val
        if start < 0 or start >= n:
            # out-of-range start -> empty: SLICE returns [] past the
            # tail, and the before-the-head corner (negative resolved
            # start) is skipped below — no UI selection produces it
            return []
        return arr[start:end + 1] if end >= start else []

    cases = []
    exprs = []
    for i in range(60):
        s_val, e_val = rng.randint(0, 7), rng.randint(0, 7)
        s_end, e_end = rng.random() < 0.5, rng.random() < 0.5
        sel = {"start": {"value": s_val, "direction":
                         "FROM_THE_END" if s_end else "FROM_THE_START"},
               "end": {"value": e_val, "direction":
                       "FROM_THE_END" if e_end else "FROM_THE_START"}}
        cases.append((s_val, s_end, e_val, e_end))
        exprs.append(
            _sublist_sql("arr", sel["start"], sel["end"])
            + f" AS c{i}")
    spark = svc.engine.spark
    df = spark.createDataFrame([(a,) for a in arrs], "arr array<string>")
    df.createOrReplaceTempView("prop_arrs")
    rows = spark.sql(
        "select arr, " + ", ".join(exprs) + " from prop_arrs").collect()
    for r in rows:
        arr = list(r["arr"])
        for i, (s_val, s_end, e_val, e_end) in enumerate(cases):
            got = list(r[f"c{i}"] or [])
            want = py_sublist(arr, s_val, s_end, e_val, e_end)
            # skip the wrap-around corner where the negative offset
            # exceeds the array length: Spark yields [] there, and no
            # UI selection produces it (offsets come from observed
            # elements) — everything else must match exactly
            if s_end and s_val >= len(arr):
                assert got == [], (arr, s_val, e_val, s_end, e_end, got)
                continue
            assert got == want, (arr, s_val, e_val, s_end, e_end,
                                 got, want)
    # ReplaceRange over integers: every bound-presence x inclusivity
    exprs, rcases = [], []
    i = 0
    for lo in (None, 3, 7):
        for hi in (None, 5, 9):
            for lo_inc in (False, True):
                for hi_inc in (False, True):
                    ft = {"type": "ReplaceRange", "replaceRange": {
                        **({"lowerBound": str(lo)}
                           if lo is not None else {}),
                        **({"upperBound": str(hi)}
                           if hi is not None else {}),
                        "lowerBoundInclusive": lo_inc,
                        "upperBoundInclusive": hi_inc,
                        "replacementValue": "-1",
                        "replacementType": "INTEGER"}}
                    exprs.append(_field_transform_sql(ft, "v")
                                 + f" AS r{i}")
                    rcases.append((lo, hi, lo_inc, hi_inc))
                    i += 1
    vals = list(range(0, 12))
    vdf = spark.createDataFrame([(v,) for v in vals], "v long")
    vdf.createOrReplaceTempView("prop_vals")
    rows = spark.sql(
        "select v, " + ", ".join(exprs) + " from prop_vals").collect()
    for r in rows:
        v = r["v"]
        for i, (lo, hi, lo_inc, hi_inc) in enumerate(rcases):
            if lo is None and hi is None:
                want = -1  # replace everything
            else:
                in_lo = (lo is None or
                         (lo <= v if lo_inc else lo < v))
                in_hi = (hi is None or
                         (hi >= v if hi_inc else hi > v))
                want = -1 if (in_lo and in_hi) else v
            assert r[f"r{i}"] == want, (v, lo, hi, lo_inc, hi_inc,
                                        r[f"r{i}"], want)
    # JSON-path parser shapes
    assert _json_path_sql("a.b[2].c") == "['a']['b'][2]['c']"
    assert _json_path_sql("x") == "['x']"
    assert _json_path_sql("x[0][1]") == "['x'][0][1]"
    with pytest.raises(ExploreError):
        _json_path_sql("")


def test_date_to_number_timezone_free(svc):
    """Review pin: ConvertDateToNumber over a DATE operand
    (convertType=DATE) must be session-timezone-free — in a
    west-of-UTC session, UNIX_TIMESTAMP(date) resolves LOCAL midnight
    and CEIL would bump every EXCEL serial by one day.  The generated
    SQL uses day arithmetic instead, so the serial matches
    datediff-from-1970 under ANY session zone; number→DATE is pinned
    UTC the same way."""
    spark = svc.engine.spark
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        svc.new_untitled_from_table("orders", "tz0")
        # a true DATE column built by day arithmetic (o_orderdate in
        # the testdata is a TIMESTAMP; casting it to DATE is itself
        # session-tz-bound, which is exactly what this test isolates)
        svc.transform("tmp.UNTITLED", "tz0", {
            "type": "addCalculatedField", "newColumnName": "d",
            "sourceColumnName": "o_orderkey",
            "expression": "DATE_ADD(DATE '1970-01-01', "
                          "CAST(o_orderkey % 20000 AS INT))",
            "dropSourceColumn": False}, "tz0b")
        svc.transform("tmp.UNTITLED", "tz0b", {
            "type": "field", "sourceColumnName": "d",
            "newColumnName": "excel_d", "dropSourceColumn": False,
            "fieldTransformation": {
                "type": "ConvertDateToNumber", "dateToNumber": {
                    "format": "EXCEL", "desiredType": "INTEGER",
                    "convertType": "DATE"}}}, "tz1")
        svc.transform("tmp.UNTITLED", "tz1", {
            "type": "field", "sourceColumnName": "excel_d",
            "newColumnName": "back_date", "dropSourceColumn": False,
            "fieldTransformation": {
                "type": "ConvertNumberToDate", "numberToDate": {
                    "format": "EXCEL", "desiredType": "DATE"}}}, "tz2")
        rows = svc.engine.sql(
            svc.get_version("tmp.UNTITLED", "tz2")["sql"]
        ).select("d", "excel_d", "back_date").limit(500).collect()
        import datetime

        epoch = datetime.date(1970, 1, 1)
        for r in rows:
            assert r["excel_d"] == (r["d"] - epoch).days + 25569, r
            assert r["back_date"] == r["d"], r
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_value_histogram_numeric_bins(svc, oracle):
    """HistogramGenerator numeric arm: BUCKETS=200 ROUND-bins whose
    counts match a hand-written GROUP BY oracle in DuckDB, contiguous
    fill (empty bins present, zero-count), percents sum to ~100."""
    svc.new_untitled_from_table("orders", "hg0")
    card = svc.value_histogram("tmp.UNTITLED", "hg0", "o_totalprice")
    vals = card["availableValues"]
    assert 0 < len(vals) <= 202
    total = card["availableValuesCount"]
    assert sum(v["count"] for v in vals) == total
    assert abs(sum(v["percent"] for v in vals) - 100.0) < 1e-6
    # every entry carries a [lower, upper) range one bin wide
    widths = {round(v["valueRange"]["upperLimit"]
                    - v["valueRange"]["lowerLimit"], 6)
              for v in vals}
    assert len(widths) == 1
    # oracle: identical binning arithmetic in DuckDB
    exp = {int(r[0]): r[1] for r in oracle.execute("""
        with mm as (select cast(min(o_totalprice) as double) lo,
                           cast(max(o_totalprice) as double) hi
                    from orders)
        select cast(round(cast(o_totalprice as double)
                          / ((hi - lo) / 200)) as bigint) bin_idx,
               count(*) n
        from orders, mm group by bin_idx""").fetchall()}
    assert total == sum(exp.values())
    assert len([v for v in vals if v["count"]]) == len(exp)
    width = (vals[0]["valueRange"]["upperLimit"]
             - vals[0]["valueRange"]["lowerLimit"])
    for v in vals:
        if v["count"]:
            idx = round(float(v["value"]) / width)
            assert exp[idx] == v["count"], (idx, v)


def test_value_histogram_date_truncation(svc, oracle):
    """Date arm: trunc unit chosen so one bin ≈ one unit
    (TruncEvalEnum walk); counts match date_trunc GROUP BY oracle;
    bins are contiguous (zero-filled)."""
    svc.new_untitled_from_table("orders", "hgd0")
    card = svc.value_histogram("tmp.UNTITLED", "hgd0", "o_orderdate")
    vals = card["availableValues"]
    assert vals and card["availableValuesCount"] == \
        sum(v["count"] for v in vals)
    # orders spans ~7 years; 200 buckets => ~13-day bins; the
    # TruncEvalEnum walk picks the first unit covering a bucket:
    # WEEK leaves 1.8 buckets/unit, so MONTH wins
    exp = {str(r[0]): r[1] for r in oracle.execute("""
        select date_trunc('month', o_orderdate) b, count(*) n
        from orders group by b order by b""").fetchall()}
    got = {v["value"]: v["count"] for v in vals if v["count"]}
    assert len(got) == len(exp)
    for k, n in got.items():
        # Spark date_trunc returns timestamps; DuckDB dates
        assert exp[k.split(" ")[0]] == n, (k, n)


def test_value_histogram_text_topk_and_selection(svc, oracle):
    svc.new_untitled_from_table("customer", "hgt0")
    card = svc.values_card("tmp.UNTITLED", "hgt0", "c_mktsegment",
                           selected=["BUILDING", "AUTOMOBILE"])
    exp = dict(oracle.execute(
        "select c_mktsegment, count(*) from customer "
        "group by 1").fetchall())
    got = {v["value"]: v["count"] for v in card["availableValues"]}
    assert got == exp
    want = oracle.execute(
        "select count(*) from customer where c_mktsegment in "
        "('BUILDING','AUTOMOBILE')").fetchone()[0]
    assert card["matchedValues"] == want
    assert card["unmatchedValues"] == \
        card["availableValuesCount"] - want
    # NULL selection counts IS NULL rows; empty string is dropped for
    # non-text; typed literals for dates
    assert svc.selection_count("tmp.UNTITLED", "hgt0", "c_acctbal",
                               [""]) == 0
    n_null = svc.selection_count("tmp.UNTITLED", "hgt0",
                                 "c_mktsegment", [None])
    assert n_null == oracle.execute(
        "select count(*) from customer where c_mktsegment is null"
    ).fetchone()[0]
    svc.new_untitled_from_table("orders", "hgs0")
    one_day = svc.engine.sql(
        "select cast(o_orderdate as string) d, count(*) n "
        "from orders group by 1 order by n desc limit 1").collect()[0]
    assert svc.selection_count("tmp.UNTITLED", "hgs0", "o_orderdate",
                               [one_day["d"]]) == one_day["n"]


def test_value_histogram_rest_routes(spark):
    """replace_values_preview / histogram routes + the values card
    folded into the replace card response (getCards :1208-1215)."""
    import json as _json
    import urllib.request as rq

    from dremio_oss_spark.server.rest import serve_rest_background

    eng = Engine(spark)
    eng.add_testdata_source(SF_SMALL)
    server, _t = serve_rest_background(eng)
    port = server.server_address[1]

    def call(method, path, body=None):
        req = rq.Request(f"http://127.0.0.1:{port}{path}",
                         data=_json.dumps(body).encode()
                         if body is not None else None,
                         method=method,
                         headers={"Content-Type": "application/json"})
        with rq.urlopen(req) as r:
            return r.status, _json.loads(r.read())

    try:
        code, out = call("POST", "/api/v3/datasets/new_untitled"
                         "?parentDataset=customer&newVersion=rh0"
                         "&limit=5")
        assert code == 200, out
        path = ".".join(out["dataset"]["fullPath"])
        code, card = call(
            "POST",
            f"/api/v3/dataset/{path}/version/rh0/"
            "replace_values_preview",
            body={"selection": {"colName": "c_mktsegment"},
                  "replacedValues": ["MACHINERY"]})
        assert code == 200, card
        assert card["matchedValues"] > 0
        assert card["matchedValues"] + card["unmatchedValues"] == \
            card["availableValuesCount"]
        code, hist = call(
            "POST",
            f"/api/v3/dataset/{path}/version/rh0/histogram",
            body={"colName": "c_acctbal"})
        assert code == 200 and hist["availableValues"], hist
        assert len(hist["availableValues"]) <= 202
        # whole-cell selection folds a values card into replace cards
        code, rep = call(
            "POST",
            f"/api/v3/dataset/{path}/version/rh0/replace",
            body={"colName": "c_mktsegment",
                  "cellText": "MACHINERY", "offset": 0,
                  "length": 9})
        assert code == 200, rep
        assert rep["values"]["matchedValues"] == \
            card["matchedValues"]
    finally:
        server.shutdown()


def test_value_histogram_integer_wide_span_never_drops(svc, oracle):
    """Integer widths round down, so a range of ~1.5x the bucket count
    yields more bins than buckets — the fill must degrade to
    observed-bins-only, never drop counted rows."""
    svc.new_untitled_from_table("orders", "hgw0")
    svc.transform("tmp.UNTITLED", "hgw0", {
        "type": "addCalculatedField", "newColumnName": "k300",
        "sourceColumnName": "o_orderkey",
        "expression": "cast(o_orderkey % 300 as int)",
        "dropSourceColumn": False}, "hgw1")
    card = svc.value_histogram("tmp.UNTITLED", "hgw1", "k300")
    total = card["availableValuesCount"]
    want = oracle.execute("select count(*) from orders").fetchone()[0]
    assert total == want  # every row counted, none truncated away
    assert sum(v["count"] for v in card["availableValues"]) == total
    # width rounded to 1 -> one bin per distinct value, no zero-fill
    exp = dict(oracle.execute(
        "select o_orderkey % 300, count(*) from orders "
        "group by 1").fetchall())
    got = {int(float(v["value"])): v["count"]
           for v in card["availableValues"]}
    assert got == exp


def test_values_card_consistent_sample_and_literal_validation(svc):
    """Review findings r13: (a) all card numbers of one computation
    come from ONE materialized sample, so matched can never exceed the
    total and unmatched never goes negative; (b) non-text selection
    literals validate instead of interpolating raw SQL; (c) the date
    fill axis degrades to observed-only rather than dropping bins."""
    import pytest as _pytest

    from dremio_oss_spark.explore import ExploreError

    svc.new_untitled_from_table("orders", "cs0")
    # tiny sample cap: four queries over a bare LIMIT would disagree;
    # the materialized sample keeps them consistent
    for _ in range(3):
        card = svc.values_card("tmp.UNTITLED", "cs0", "o_totalprice",
                               selected=[None], replace_null=True,
                               sample_limit=50)
        assert 0 <= card["matchedValues"] <= 50
        assert card["unmatchedValues"] >= 0
        assert sum(v["count"] for v in card["availableValues"]) == \
            card["availableValuesCount"]
    # injection attempt in a numeric slot -> client error, not SQL
    with _pytest.raises(ExploreError, match="literal"):
        svc.selection_count(
            "tmp.UNTITLED", "cs0", "o_totalprice",
            ["0 OR (SELECT max(o_totalprice) FROM orders) > 0"])
    # quote in a temporal slot stays inside the literal: the escaped
    # malformed date either raises a literal parse refusal or matches
    # nothing.  An UNescaped value would terminate the literal and
    # execute the injected OR-all predicate, matching every row —
    # which the zero assertion catches.
    try:
        n = svc.selection_count("tmp.UNTITLED", "cs0", "o_orderdate",
                                ["1995-01-01' OR '1'='1"])
        assert n == 0, f"injected OR predicate executed ({n} rows)"
    except Exception:  # noqa: BLE001 — literal parse refusal is fine
        pass
    # date arm never drops counted rows on spans past the old
    # buckets+2 guard (290s span -> SECOND unit -> 290 bins)
    svc.new_untitled_from_table("orders", "cs1")
    svc.transform("tmp.UNTITLED", "cs1", {
        "type": "addCalculatedField", "newColumnName": "t300",
        "sourceColumnName": "o_orderkey",
        "expression": "timestampadd(SECOND, "
                      "cast(o_orderkey % 290 as int), "
                      "timestamp'1995-01-01 00:00:00')",
        "dropSourceColumn": False}, "cs2")
    card = svc.value_histogram("tmp.UNTITLED", "cs2", "t300")
    n = svc.engine.sql("select count(*) as n from orders"
                       ).collect()[0]["n"]
    assert card["availableValuesCount"] == n
    assert sum(v["count"] for v in card["availableValues"]) == n
