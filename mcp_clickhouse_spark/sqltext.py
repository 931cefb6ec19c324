"""The one SQL lexical rule set shared by the read-only gate
(:mod:`~mcp_clickhouse_spark.readonly`), the ClickHouse dialect translator
(:mod:`~mcp_clickhouse_spark.dialect`) and the table-function / system-table
binders.  Every layer that reads the user's SQL text asks this module where a
quoted span or a comment ends, so no two layers can disagree about it.

Quoted spans
    A span opens at ``'`` (string literal), ``"`` (ClickHouse identifier,
    Spark string) or a backtick (identifier) and closes at the next
    unescaped copy of the same character.  Two escapes keep a span open:

    - a backslash escapes the next character (``'it\\'s'``, ``'C:\\\\'``)
      inside ``'`` and ``"`` spans — never inside backticks, and never
      inside a Spark raw literal (``r'…'``, ``R"…"``: an ``r``/``R``
      directly before the quote that does not end a longer identifier,
      so ``r'a\\'`` is closed and ``attr'…'`` is not raw);
    - a doubled quote (``''``, ``""``, doubled backticks) stands for one
      literal quote, in all three.

    An unterminated span runs to the end of the text, so balance checks
    downstream still fail loudly instead of mis-pairing.

Comments (ClickHouse forms)
    ``/* … */`` block comments (an unterminated one runs to the end), and
    line comments that run to the newline: ``--``, ``#!`` and ``#``
    followed by whitespace (a bare ``#token`` is not a comment).  Comment
    markers inside a quoted span are text.  :func:`strip_comments` replaces
    each comment with one space, so ``a/*c*/b`` stays two tokens.

Depth
    Parenthesis (and, where stated, bracket) depth is counted outside
    quoted spans only.  :func:`mask_strings` blanks span contents while
    keeping every position, so a scanner can search the masked text and
    slice the original at the same indices.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

QUOTE_CHARS = ("'", '"', "`")
_QUOTE_RE = re.compile(r"['\"`]")


def _is_raw_prefix(s: str, i: int) -> bool:
    """``s[i - 1]`` is a lone ``r``/``R``: the quote at ``i`` opens a Spark
    raw literal."""
    return (
        i >= 1
        and s[i - 1] in "rR"
        and not (i >= 2 and (s[i - 2].isalnum() or s[i - 2] == "_"))
    )


def _close_of(s: str, i: int) -> int:
    """``s[i]`` opens a quoted span — index of its closing quote, or -1
    when the span is unterminated."""
    q = s[i]
    n = len(s)
    escapes = q != "`" and not _is_raw_prefix(s, i)
    j = i + 1
    while j < n:
        ch = s[j]
        if ch == "\\" and escapes:
            j += 2
            continue
        if ch == q:
            if j + 1 < n and s[j + 1] == q:
                j += 2
                continue
            return j
        j += 1
    return -1


def skip_quoted(s: str, i: int) -> int:
    """``s[i]`` is a quote char — the index just past the span's closing
    quote (the end of the text for an unterminated span)."""
    close = _close_of(s, i)
    return len(s) if close < 0 else close + 1


def quoted_spans(sql: str) -> Iterator[tuple[int, int, bool]]:
    """Yield ``(start, end, closed)`` for every quoted span, in order:
    ``sql[start:end]`` is the span with its quotes; ``closed`` is False
    for an unterminated span (which then runs to the end)."""
    i = 0
    while (m := _QUOTE_RE.search(sql, i)) is not None:
        close = _close_of(sql, m.start())
        if close < 0:
            yield m.start(), len(sql), False
            return
        yield m.start(), close + 1, True
        i = close + 1


def strip_comments(sql: str) -> str:
    """Replace every comment with one space; quoted spans are opaque."""
    out: list[str] = []
    i = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch in QUOTE_CHARS:
            j = skip_quoted(sql, i)
            out.append(sql[i:j])
            i = j
            continue
        if ch == "/" and sql[i + 1 : i + 2] == "*":
            j = sql.find("*/", i + 2)
            out.append(" ")
            i = n if j == -1 else j + 2
            continue
        if (ch == "-" and sql[i + 1 : i + 2] == "-") or (
            ch == "#"
            and i + 1 < n
            and (sql[i + 1] == "!" or sql[i + 1].isspace())
        ):
            j = sql.find("\n", i)
            out.append(" ")
            i = n if j == -1 else j  # keep the newline itself
            continue
        out.append(ch)
        i += 1
    return "".join(out)


def mask_strings(sql: str) -> str:
    """Same-length copy of ``sql`` with every quoted span's contents
    blanked to spaces (the quotes themselves stay), so a ``;``, paren or
    keyword inside a literal or quoted identifier cannot steer a scan and
    every index still points at the same place in the original."""
    if not _QUOTE_RE.search(sql):
        return sql
    out: list[str] = []
    last = 0
    for start, end, closed in quoted_spans(sql):
        stop = end - 1 if closed else end
        out.append(sql[last : start + 1])
        out.append(" " * (stop - start - 1))
        last = stop
    out.append(sql[last:])
    return "".join(out)


def outside_strings(sql: str, pos: int) -> bool:
    """True iff ``pos`` is not strictly inside a quoted span (an opening
    quote itself counts as outside)."""
    for start, end, _ in quoted_spans(sql):
        if start >= pos:
            return True
        if pos < end:
            return False
    return True


def sub_code(
    pattern: str, repl: str | Callable[[re.Match[str]], str], sql: str
) -> str:
    """``re.sub(pattern, repl, …)`` applied to the text outside quoted
    spans only; each stretch between spans is substituted on its own."""
    if not _QUOTE_RE.search(sql):
        return re.sub(pattern, repl, sql)
    out: list[str] = []
    last = 0
    for start, end, _ in quoted_spans(sql):
        out.append(re.sub(pattern, repl, sql[last:start]))
        out.append(sql[start:end])
        last = end
    out.append(re.sub(pattern, repl, sql[last:]))
    return "".join(out)


def paren_depth(sql: str) -> Callable[[int], int]:
    """``depth(pos)``: the ``(``/``)`` nesting depth at ``pos``, parens
    inside quoted spans ignored."""
    masked = mask_strings(sql)
    return lambda pos: masked.count("(", 0, pos) - masked.count(")", 0, pos)


def find_balanced(sql: str, start: int) -> int:
    """sql[start] == '(' → index just past its matching ')'."""
    depth = 0
    i = start
    while i < len(sql):
        ch = sql[i]
        if ch in QUOTE_CHARS:
            i = skip_quoted(sql, i)
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses in SQL")


def split_args(argstr: str) -> list[str]:
    """Split a top-level argument list on commas (paren/bracket aware)."""
    args: list[str] = []
    depth = 0
    cur: list[str] = []
    i, n = 0, len(argstr)
    while i < n:
        ch = argstr[i]
        if ch in QUOTE_CHARS:
            j = skip_quoted(argstr, i)
            cur.append(argstr[i:j])
            i = j
            continue
        if ch in "([":
            depth += 1
            cur.append(ch)
        elif ch in ")]":
            depth -= 1
            cur.append(ch)
        elif ch == "," and depth == 0:
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    tail = "".join(cur).strip()
    if tail:
        args.append(tail)
    return args


def depth0_spans(sql: str) -> Iterator[tuple[int, str]]:
    """Yield (index, char) for characters at paren/bracket depth 0
    outside quoted spans."""
    depth = 0
    i, n = 0, len(sql)
    while i < n:
        ch = sql[i]
        if ch in QUOTE_CHARS:
            i = skip_quoted(sql, i)
            continue
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        elif depth == 0:
            yield i, ch
        i += 1


def paren_partners(sql: str) -> dict[int, int]:
    """Map each ')' index to its matching '(' index."""
    stack: list[int] = []
    partner: dict[int, int] = {}
    for i, ch in enumerate(mask_strings(sql)):
        if ch == "(":
            stack.append(i)
        elif ch == ")" and stack:
            partner[i] = stack.pop()
    return partner
