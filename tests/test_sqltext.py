"""The SQL lexer under the engine's text front end (no Spark needed)."""

from __future__ import annotations

import re

from dremio_oss_spark import sqltext


def test_spans_and_mask_keep_positions():
    q = ("select 'it''s', 'a\\'b', \"c,d\", `x?` /* c */ "
         "/*+ BROADCAST(t) */ from t -- tail")
    kinds = [k for k, _, _ in sqltext.spans(q)]
    assert kinds == ["code", "string", "code", "string", "code", "string",
                     "code", "ident", "code", "comment", "code", "comment"]
    masked = sqltext.mask(q)
    assert len(masked) == len(q)
    assert "it" not in masked and "c,d" not in masked
    assert "`x?`" in masked and "/*+ BROADCAST(t) */" in masked
    assert masked.startswith("select '     ', '    ', \"   \"")


def test_unterminated_runs_to_end():
    assert sqltext.spans("select 'abc") == [("code", 0, 7),
                                            ("string", 7, 11)]
    assert sqltext.mask("x /* open") == "x        "


def test_cache_key_collapses_code_not_literals():
    key = sqltext.cache_key
    assert key("/* p */ select  'a  b'\n from t -- x") == \
        "select 'a  b' from t"
    assert key("select 'a b'") != key("select 'a  b'")


def test_split_top_level():
    assert sqltext.split_top_level("a, f(b, 'c,d'), \"e,f\" /* , */") == \
        ["a", " f(b, 'c,d')", " \"e,f\" /* , */"]
    assert sqltext.split_top_level("a,") == ["a"]
    assert sqltext.split_top_level("") == []


def test_matching_reads_original_text():
    q = "update '/t' set note = 'a where b' where k = 1"
    m = sqltext.match(r"\s*update\s+'([^']+)'\s+set\s+(.+?)"
                      r"(?:\s+where\s+(.+?))?\s*$", q, re.I | re.S)
    assert (m.group(1), m.group(2), m.group(3)) == \
        ("/t", "note = 'a where b'", "k = 1")
    assert sqltext.sub(r"\bNDV\(", "approx_count_distinct(",
                       "select NDV(x), 'NDV(x)'") == \
        "select approx_count_distinct(x), 'NDV(x)'"
    assert sqltext.split(r"\band\b", "a = 'x and y' and b = 2", re.I) == \
        ["a = 'x and y' ", " b = 2"]
