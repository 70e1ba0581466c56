"""The SQL front end's lexer: the only code that knows what a string
literal or a comment is.

An entry point (``dialect.translate``, ``Engine.sql``, statement
splitting, DDL parsing) masks its statement once with :class:`Masked`:
every literal becomes one placeholder character and every comment is
dropped. Rewrite passes then run on the masked text, where no regex can
match inside a literal and no splitter can stop at a quoted comma, and
the entry point unmasks once at the end. A pass that needs a literal's
content reads it with :meth:`Masked.value`.

Literals are ``'…'``, ``"…"`` and backquoted names, each with ``\\``
escapes and doubled quotes, plus ``$$…$$`` heredocs. Comments are
``--`` to the end of the line and ``/* … */``.
"""

from __future__ import annotations

import re
from itertools import chain

# placeholders are single characters from the supplementary private use
# planes: no regex class a pass uses (\w, \s, \d, brackets, quotes)
# matches them, so a masked literal is one opaque atom
_FIRST, _LAST = 0xF0000, 0x10FFFD
LIT = "[\U000F0000-\U0010FFFD]"  # regex class of one placeholder
_LIT_RE = re.compile(LIT)

_TOKEN_RE = re.compile(
    r"""(?P<lit>
        '(?:[^'\\]|\\.?|'')*+(?:'|\Z)
      | "(?:[^"\\]|\\.?|"")*+(?:"|\Z)
      | `(?:[^`\\]|\\.?|``)*+(?:`|\Z)
      | \$\$.*?(?:\$\$|\Z)
    )
    | --[^\n]*
    | /\*.*?(?:\*/|\Z)""",
    re.S | re.X,
)


class Masked:
    """A statement with its literals masked and its comments dropped.

    ``text`` is the masked statement. Identical literals share one
    placeholder. Masking text that already holds another table's
    placeholders (a pass splitting masked text) allocates past them, so
    the two tables never collide.
    """

    def __init__(self, sql: str = ""):
        self._tokens: list[str] = []
        self._chars: dict[str, str] = {}
        self._first = _FIRST
        if _LIT_RE.search(sql):
            used = _LIT_RE.findall(_TOKEN_RE.sub(" ", sql))
            self._first = max(map(ord, used), default=_FIRST - 1) + 1
        self.text = self.mask(sql)

    def mask(self, sql: str) -> str:
        """Mask more raw SQL into this table (a macro body, say)."""
        return _TOKEN_RE.sub(self._sub, sql)

    def _sub(self, m: re.Match) -> str:
        tok = m.group("lit")
        if tok is None:  # a comment: a block comment still separates words
            return " " if m.group().startswith("/") else ""
        return self.keep(tok)

    def keep(self, tok: str) -> str:
        """The placeholder that unmasks to ``tok`` verbatim: a literal,
        or an inline data block, which is never masked."""
        ch = self._chars.get(tok)
        if ch is None:
            code = self._first + len(self._tokens)
            if code > _LAST:
                raise ValueError("statement has too many distinct literals")
            ch = self._chars[tok] = chr(code)
            self._tokens.append(tok)
        return ch

    def unmask(self, text: str) -> str:
        """``text`` with this table's placeholders replaced by their literals."""
        if not self._tokens:
            return text
        lo = self._first
        rx = f"[{chr(lo)}-{chr(lo + len(self._tokens) - 1)}]"
        return re.sub(rx, lambda m: self._tokens[ord(m.group()) - lo], text)

    def value(self, fragment: str) -> str:
        """The content of the literal a masked fragment holds, quotes
        removed and escaped quotes decoded; any other fragment comes
        back unmasked and stripped (``dateDiff(day, …)`` names its unit
        bare)."""
        return unquote(self.unmask(fragment))

    def quote(self, content: str) -> str:
        """The placeholder of a new ``'…'`` literal holding ``content``."""
        return self.mask("'" + content.replace("\\", "\\\\").replace("'", "\\'") + "'")


def unquote(token: str) -> str:
    """The content of one raw literal token (``'it''s'`` → ``it's``);
    anything that is not exactly one literal comes back stripped."""
    s = token.strip()
    m = _TOKEN_RE.fullmatch(s)
    if m is None or m.group("lit") is None:
        return s
    q = s[0]
    if q == "$":
        return s[2:-2] if len(s) >= 4 and s.endswith("$$") else s[2:]
    body = s[1:-1] if len(s) > 1 and s.endswith(q) else s[1:]
    return re.sub(r"\\([\\'\"`])|" + re.escape(q * 2), lambda e: e.group(1) or q, body)


_DATA_RE = re.compile(r"\bFORMAT\s+\w+\s*\n", re.IGNORECASE)


def split_data(sql: str) -> tuple[str, str]:
    """``sql`` split after its first ``FORMAT <name>`` line break outside
    a literal or comment: the statement head, and the inline data block
    that follows it (``INSERT … FORMAT CSV\\n<rows>``), "" when none."""
    start = 0
    for tok in chain(_TOKEN_RE.finditer(sql), [None]):
        m = _DATA_RE.search(sql, start, tok.start() if tok else len(sql))
        if m:
            return sql[: m.end()], sql[m.end() :]
        if tok is None:
            return sql, ""
        start = tok.end()


_OPEN, _CLOSE = "([", ")]"
_BRACKET_RE = {sep: re.compile(r"[()\[\]" + re.escape(sep) + "]") for sep in ",;"}


def close_paren(text: str, open_idx: int) -> int:
    """Index of the bracket closing the ``(`` or ``[`` at ``open_idx``
    in masked text, or -1 when it is never closed."""
    depth = 0
    for b in _BRACKET_RE[","].finditer(text, open_idx):
        c = b.group()
        if c in _OPEN:
            depth += 1
        elif c in _CLOSE:
            depth -= 1
            if depth == 0:
                return b.start()
    return -1


def _split(text: str, sep: str) -> list[str]:
    parts, depth, start = [], 0, 0
    for b in _BRACKET_RE[sep].finditer(text):
        c = b.group()
        if c in _OPEN:
            depth += 1
        elif c in _CLOSE:
            depth -= 1
        elif depth == 0:
            parts.append(text[start : b.start()])
            start = b.end()
    parts.append(text[start:])
    return parts


def call_args(text: str, open_idx: int) -> tuple[list[str], int]:
    """Top-level arguments of the call whose ``(`` is at ``open_idx`` in
    masked text, each stripped, and the index just past its ``)``."""
    end = close_paren(text, open_idx)
    if end < 0:
        raise ValueError("unbalanced parens")
    return [a.strip() for a in _split(text[open_idx + 1 : end], ",")], end + 1


def split_top(sql: str, sep: str = ",") -> list[str]:
    """Split raw or masked SQL on ``sep`` outside literals, comments and
    ()/[] nesting; each part is stripped, literals kept as written."""
    m = Masked(sql)
    return [m.unmask(p).strip() for p in _split(m.text, sep)]


def split_statements(script: str) -> list[str]:
    """The statements of a script: split on top-level ``;``, comments
    dropped, empty statements skipped."""
    return [s for s in split_top(script, ";") if s]
