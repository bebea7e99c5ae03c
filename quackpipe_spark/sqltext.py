"""One SQL text scanner shared by every component that must tell code
apart from non-code before regex-level reasoning: the dialect rewriter
(:mod:`quackpipe_spark.functions.dialect`), the read_parquet interception
(:mod:`quackpipe_spark.query`; its pruning reads Catalyst's parse tree
instead), and the stdin statement splitter (:mod:`quackpipe_spark.__main__`).

Why ONE scanner: three hand-rolled scanners drifted three times in
round 9 (backslash-escape desync, double-quoted literals treated as
code) and the round-10 driver advice found the remaining gap — none of
them knew about comments, so ``-- don't`` flipped quote parity and a
bound commented out of a WHERE clause still fabricated a pruning range
(silent missing rows). The reference sidesteps all of this by handing
whole statements to DuckDB's real lexer (stdin/init.go:29-49,
ARCHITECTURE.md:1959-1975); on Spark we pre-process text ourselves, so
the lexing rules live here, once.

Token grammar (matching Spark's default parser):

- ``'…'`` and ``"…"`` are string literals (``doubleQuotedIdentifiers``
  is off), with BOTH escape conventions live: backslash escapes
  (``escapedStringLiterals`` is false) and ``''`` / ``""`` doubling.
- ```…``` are quoted identifiers, with ` `` ` doubling (NO backslash
  escapes — Spark's identifier grammar has none). Not lexing them was
  the round-12 review's top finding: an apostrophe inside a backtick
  identifier desynced quote parity, so real literal contents were
  exposed as code (a fabricated pruning bound = silent missing rows)
  and real code was blanked as literal.
- ``-- …`` comments to end-of-line (the newline is NOT part of the
  comment — it stays statement-internal whitespace).
- ``/* … */`` comments NEST, per Spark's bracketed-comment grammar.
- An unterminated literal or block comment extends to end-of-text
  (conservative: downstream consumers see no code there).
"""

from __future__ import annotations

import re as _re

__all__ = ["scan_segments", "blank_noncode"]


def scan_segments(text: str) -> list[tuple[str, int, int]]:
    """Tokenize into ``(kind, start, end)`` segments covering the whole
    text, ``kind`` in ``{'code', 'lit', 'comment', 'ident'}``. Offsets
    are into ``text``; segments are contiguous and in order."""
    segs: list[tuple[str, int, int]] = []
    i, n = 0, len(text)
    code_start = 0

    def _flush_code(upto: int) -> None:
        if code_start < upto:
            segs.append(("code", code_start, upto))

    while i < n:
        c = text[i]
        if c == "-" and text[i : i + 2] == "--":
            _flush_code(i)
            j = text.find("\n", i)
            j = n if j < 0 else j
            segs.append(("comment", i, j))
            i = code_start = j
        elif c == "/" and text[i : i + 2] == "/*":
            _flush_code(i)
            depth, j = 1, i + 2
            while j < n and depth:
                if text[j : j + 2] == "/*":
                    depth += 1
                    j += 2
                elif text[j : j + 2] == "*/":
                    depth -= 1
                    j += 2
                else:
                    j += 1
            segs.append(("comment", i, j))
            i = code_start = j
        elif c in ("'", '"'):
            _flush_code(i)
            q, j = c, i + 1
            while j < n:
                if text[j] == "\\" and j + 1 < n:
                    j += 2
                elif text[j] == q:
                    if text[j : j + 2] == q + q:
                        j += 2
                    else:
                        j += 1
                        break
                else:
                    j += 1
            segs.append(("lit", i, j))
            i = code_start = j
        elif c == "`":
            _flush_code(i)
            j = i + 1
            while j < n:
                if text[j] == "`":
                    if text[j : j + 2] == "``":
                        j += 2
                    else:
                        j += 1
                        break
                else:
                    j += 1
            segs.append(("ident", i, j))
            i = code_start = j
        else:
            i += 1
    _flush_code(n)
    return segs


def blank_noncode(text: str) -> str:
    """Same length as ``text`` with every character a regex must not
    treat as code replaced by a space: string-literal CONTENTS (the
    enclosing quotes are kept, so a literal still reads as an empty
    token) and ENTIRE comment spans. Offsets are preserved, so a match
    found in the blanked text can read its true value from the original
    at the same span (read_parquet's path literals rely on this)."""
    buf = list(text)
    for kind, a, b in scan_segments(text):
        if kind == "comment":
            for k in range(a, b):
                buf[k] = " "
        elif kind == "lit":
            # keep the closing quote only if the literal is terminated
            # (scanner ran off end-of-text otherwise)
            keep_close = _terminated(text, a, b)
            lo, hi = a + 1, b - 1 if keep_close else b
            for k in range(lo, hi):
                buf[k] = " "
        elif kind == "ident":
            # a PLAIN-WORD identifier (`events`) stays visible: it means
            # exactly what the bare word means, and consumers legitimately
            # read names through it. Any other content (operators,
            # spaces, quotes) is blanked — an identifier named
            # `count() >= 100` must not read as code, and `a;b` must not
            # split a statement.
            keep_close = _terminated(text, a, b)
            lo, hi = a + 1, b - 1 if keep_close else b
            if not (keep_close and _re.fullmatch(r"\w+", text[lo:hi], _re.ASCII)):
                for k in range(lo, hi):
                    buf[k] = " "
    return "".join(buf)


_BSLASH_ESCAPES = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t", "Z": "\x1a",
}


def unescape_sql_string(body: str, quote: str = "'") -> str:
    """Decode the BODY of a Spark quoted literal (enclosing quotes
    already stripped) the way Spark's parser does under the default
    ``escapedStringLiterals=false``: doubled-quote unfolding PLUS the
    C-style backslash escapes the shared scanner lexes as live. The two
    conventions must travel together — the r12 fix unfolded only ``''``,
    so a path literal like ``'/data/it\\'s.parquet'`` (which the scanner
    correctly lexes past the escaped quote) reached the filesystem with
    the backslash intact while Spark itself would have parsed it to
    ``/data/it's.parquet`` (review r14). ``\\%`` and ``\\_`` keep their
    backslash (Spark preserves them for LIKE); any other ``\\x`` yields
    ``x``. Unicode ``\\uXXXX`` escapes are not decoded (documented
    subset; not meaningful in file paths)."""
    out: list[str] = []
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if ch == "\\" and i + 1 < n:
            nxt = body[i + 1]
            if nxt in _BSLASH_ESCAPES:
                out.append(_BSLASH_ESCAPES[nxt])
            elif nxt in ("%", "_"):
                out.append("\\" + nxt)
            else:
                out.append(nxt)
            i += 2
        elif ch == quote and i + 1 < n and body[i + 1] == quote:
            out.append(quote)
            i += 2
        else:
            out.append(ch)
            i += 1
    return "".join(out)


def _terminated(text: str, a: int, b: int) -> bool:
    """True if the literal text[a:b] ends with a REAL closing quote —
    re-walk the token (it is short) rather than guess from the last
    char, which is wrong for an at-EOF token ending in a doubled
    quote (``'abc''``: unterminated, content ``abc'``)."""
    q, j, n = text[a], a + 1, b
    esc = q != "`"  # backticks have no backslash escapes (match the scanner)
    while j < n:
        if esc and text[j] == "\\" and j + 1 < n:
            j += 2
        elif text[j] == q:
            if text[j : j + 2] == q + q:
                j += 2
            else:
                return j == n - 1
        else:
            j += 1
    return False
