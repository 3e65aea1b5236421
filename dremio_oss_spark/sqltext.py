"""The one SQL lexer under the engine's text front end.

A statement splits into spans: `code` (optimizer hints `/*+ … */`
included), `string` (`'…'` and `"…"`, both string literals to Spark,
with backslash escapes and doubled quotes), `ident` (backticked) and
`comment` (`--` to end of line, `/* … */`).  Anything unterminated runs
to the end of the text, as in Spark's parser.

Text rewrites match on `mask(sql)`: the same text with literal bodies
and comments blanked, every position unchanged, quotes kept (so a
`'([^']+)'` path pattern still finds the path).  `search`, `match`,
`sub` and `split` match that way and hand back the ORIGINAL text, so a
captured group keeps the literal's contents.
"""
from __future__ import annotations

import re

CODE, STRING, IDENT, COMMENT = "code", "string", "ident", "comment"

_TOKEN = re.compile(
    r"(?P<comment>--[^\n]*|/\*(?!\+).*?(?:\*/|\Z))"
    r"|(?P<string>'(?:[^'\\]|\\.|'')*\\?(?:'|\Z)"
    r"|\"(?:[^\"\\]|\\.|\"\")*\\?(?:\"|\Z))"
    r"|(?P<ident>`(?:[^`]|``)*(?:`|\Z))",
    re.S)


def spans(sql: str) -> list[tuple[str, int, int]]:
    """(kind, start, end) spans covering `sql` in order."""
    out, pos = [], 0
    for m in _TOKEN.finditer(sql):
        if m.start() > pos:
            out.append((CODE, pos, m.start()))
        out.append((m.lastgroup, m.start(), m.end()))
        pos = m.end()
    if pos < len(sql):
        out.append((CODE, pos, len(sql)))
    return out


def mask(sql: str) -> str:
    """`sql` with literal bodies and comments blanked to spaces."""
    out = []
    for kind, a, b in spans(sql):
        if kind == STRING:
            closed = b - a > 1 and sql[b - 1] == sql[a]
            out.append(sql[a] + " " * (b - a - 1 - closed)
                       + sql[a] * closed)
        else:
            out.append(" " * (b - a) if kind == COMMENT else sql[a:b])
    return "".join(out)


def strip_comments(sql: str) -> str:
    """`sql` with each comment replaced by one space."""
    return "".join(" " if kind == COMMENT else sql[a:b]
                   for kind, a, b in spans(sql))


def cache_key(sql: str) -> str:
    """Whitespace collapsed in code, comments dropped, literals and
    quoted identifiers verbatim: `'a b'` and `'a  b'` differ."""
    sql = strip_comments(sql)
    return "".join(re.sub(r"\s+", " ", sql[a:b]) if kind == CODE
                   else sql[a:b] for kind, a, b in spans(sql)).strip()


def split_top_level(sql: str) -> list[str]:
    """Split on commas outside parentheses, literals and comments; an
    empty last piece is dropped ("a," -> ["a"], "" -> [])."""
    out, depth, start = [], 0, 0
    for m in re.finditer(r"[(),]", mask(sql)):
        if m.group() != ",":
            depth += 1 if m.group() == "(" else -1
        elif depth == 0:
            out.append(sql[start:m.start()])
            start = m.end()
    return out + [sql[start:]] if start < len(sql) else out


class Match:
    """A match on `mask(text)` whose groups read `text`."""

    def __init__(self, m: re.Match, text: str):
        self.m, self.text = m, text

    def group(self, g=0) -> str | None:
        a, b = self.m.span(g)
        return None if a < 0 else self.text[a:b]


def search(pattern, sql: str, flags: int = 0) -> Match | None:
    m = re.compile(pattern, flags).search(mask(sql))
    return m and Match(m, sql)


def match(pattern, sql: str, flags: int = 0) -> Match | None:
    m = re.compile(pattern, flags).match(mask(sql))
    return m and Match(m, sql)


def sub(pattern, repl, sql: str, flags: int = 0) -> str:
    """re.sub outside literals; `repl` is a verbatim string or a
    function of a `Match`."""
    out, pos = [], 0
    for m in re.compile(pattern, flags).finditer(mask(sql)):
        out += [sql[pos:m.start()],
                repl if isinstance(repl, str) else repl(Match(m, sql))]
        pos = m.end()
    return "".join(out) + sql[pos:]


def split(pattern, sql: str, flags: int = 0) -> list[str]:
    """re.split outside literals."""
    out, pos = [], 0
    for m in re.compile(pattern, flags).finditer(mask(sql)):
        out.append(sql[pos:m.start()])
        pos = m.end()
    return out + [sql[pos:]]
