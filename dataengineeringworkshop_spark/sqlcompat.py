"""SQL compatibility shims for Databricks-only syntax in the reference.

The one construct the workshop uses that OSS Spark SQL lacks is the
``column:json.path`` extraction operator
(`2 Medaillon architecture.py:516` — ``_rescued_data:ts``;
`3 Delta Live Tables Setup.py:147-151` —
``details:flow_progress.metrics.num_output_rows``).  ``translate_sql``
rewrites it to ``get_json_object(column, '$.json.path')`` so workshop
SQL runs verbatim through ``Lakehouse.sql``.

Scope (deliberately bounded to the workshop's idiom):
- path steps are dot-separated identifiers after the colon; both
  ``a:b.c`` and the workshop's occasional ``a:b:c`` chaining are
  handled (the latter nests extractions);
- colons inside string literals (``'…'`` or ``"…"``) are untouched;
- array subscripts / ``::`` casts are NOT part of the reference surface
  and are left alone (``::`` never matches — the pattern requires an
  identifier immediately before and after a single colon).
"""

from __future__ import annotations

import re

# identifier followed by one or more ':step' segments (each step may have
# '.sub' parts) — the whole chain is ONE extraction whose JSON path is the
# segments joined by dots (N3:147-151's a:b:c form).  `(?<![:\w])` and
# `(?!:)` keep `::` casts and qualified names out.
_JSON_PATH_RE = re.compile(
    r"(?<![:\w])((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)"  # optionally qualified column
    r"((?::(?!:)[A-Za-z_]\w*(?:\.[A-Za-z_]\w*)*)+)"  # :step(.sub)* chain
)


def _split_literals(sql: str) -> list[tuple[bool, str]]:
    """Split into (is_string_literal, chunk) segments that join back to
    ``sql``.  ``'…'`` and ``"…"`` are both string literals, as Spark
    reads them (quote rule: :func:`_literal_re`)."""
    parts = re.split(f"({_literal_re(_STRING_QUOTES)})", sql)
    return [(i % 2 == 1, p) for i, p in enumerate(parts) if p]


def translate_sql(sql: str) -> str:
    """Rewrite Databricks ``col:a.b`` / ``col:a:b`` JSON extraction to
    ``get_json_object(col, '$.a.b')`` outside string literals."""

    def repl(m: re.Match) -> str:
        col = m.group(1)
        path = m.group(2).lstrip(":").replace(":", ".")
        return f"get_json_object({col}, '$.{path}')"

    return "".join(
        seg if is_lit else _JSON_PATH_RE.sub(repl, seg)
        for is_lit, seg in _split_literals(sql)
    )


# ---------------------------------------------------------------------------
# shared quote/paren-aware text scanning — ONE quote rule behind
# translate_sql's literal scoping, sqldml's statement splitting and
# dlt_sql's grammar walking (previously four hand-rolled scanners with
# subtly different quote rules)
# ---------------------------------------------------------------------------

_STRING_QUOTES = "'\""


def _literal_re(quotes: str) -> str:
    """Regex of one quoted span: opened by any of ``quotes``, closed by
    the same quote or the end of the text.  Inside ``'…'`` and ``"…"``
    a backslash escapes the next character (Spark's default string
    syntax — ``'don\\'t'``); backticks escape by doubling, which closing
    and reopening already handles.  THE one quote rule — change it
    here, not in a copy."""
    return "|".join(
        "`[^`]*(?:`|\\Z)" if q == "`"
        else f"{q}(?:\\\\[\\s\\S]?|[^{q}\\\\])*(?:{q}|\\Z)"
        for q in quotes
    ) or "(?!)"


def strip_line_comments(text: str, quotes: str = "'\"`") -> str:
    """Remove ``-- …`` line comments, but ONLY outside quoted strings —
    a ``--`` inside a literal (``UPDATE t SET s = 'a--b'``) is data, not
    a comment.  Naive regex stripping would eat the rest of the line
    including the literal's closing quote, silently merging the mangled
    statement with the next one.  Newlines are preserved so statement
    text keeps its shape."""
    return re.sub(f"({_literal_re(quotes)})|--[^\\n]*", lambda m: m[1] or "", text)


def split_top_level(text: str, sep_re: str, quotes: str = "'") -> list[str]:
    """Split ``text`` on a regex separator matched only at paren depth 0
    and outside any of the ``quotes`` characters.  Separator matches are
    consumed; quoting/nesting inside parts is preserved verbatim."""
    parts, depth, start = [], 0, 0
    tokens = f"{_literal_re(quotes)}|([()])|({sep_re})"
    for m in re.finditer(tokens, text, re.IGNORECASE):
        if m[1]:
            depth += 1 if m[1] == "(" else -1
        elif m[2] is not None and depth == 0 and m.end() > m.start():
            parts.append(text[start : m.start()])
            start = m.end()
    parts.append(text[start:])
    return parts


def take_paren_group(text: str, quotes: str = "'\"`") -> tuple[str, str]:
    """``text`` starting at '(' → (content inside the matching paren,
    remainder after it), quote-aware."""
    if not text or text[0] != "(":
        raise ValueError(f"expected '(' at start of: {text[:40]!r}")
    depth = 0
    for m in re.finditer(f"{_literal_re(quotes)}|([()])", text):
        if m[1]:
            depth += 1 if m[1] == "(" else -1
            if depth == 0:
                return text[1 : m.start()], text[m.end() :]
    raise ValueError(f"unbalanced parentheses in: {text[:80]!r}")
