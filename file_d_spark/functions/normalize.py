"""Token normalizer for ``hash format: normalize``.

The reference replaces recognizable tokens in a log message with
placeholders before hashing, so messages differing only in variable
parts collapse to one hash.  It has two engines
(/root/reference/plugin/action/hash/normalize/token_normalizer.go):

* a byte tokenizer for the non-regular tokens — balanced brackets and
  (possibly repeated / escaped) quotes, incl. partial tokens cropped at
  end-of-data (token_normalizer.go:313-447);
* a lexer over regex patterns for word-like tokens, longest-match-wins
  at each position, with a "no match inside words" rule
  (token_normalizer.go:243-265), plus user ``custom_patterns`` ordered
  first/last around the builtins (token_normalizer.go:199-240).

Spark mapping — three tiers, fastest that preserves semantics:

1. bracket/quote patterns: an Arrow-batched pandas UDF running an exact
   port of the byte tokenizer (non-regular ⇒ no regex can do it);
2. builtin word patterns: an ordered chain of JVM ``regexp_replace``
   ops wrapped in word-boundary lookarounds — the builtin library is
   declared longest-first, so sequential replacement equals
   longest-match for it (whole-stage codegen, no Python);
3. with ``custom_patterns``: a pandas-UDF longest-match scanner over
   (customs-first + builtins + customs-last), because a later-priority
   custom can win a longer match over an earlier builtin — sequential
   chains cannot express that (e.g. a ``\\d{4}/\\d{2}/\\d{2} ...``
   custom vs the builtin time-only match inside it).
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# pattern library
# --------------------------------------------------------------------------

# byte-tokenizer patterns (non-regular)
BYTE_PATTERNS = [
    "curly_bracketed",
    "square_bracketed",
    "parenthesized",
    "double_quoted",
    "single_quoted",
    "grave_quoted",
]

_OPEN = {"{": "curly_bracketed", "[": "square_bracketed", "(": "parenthesized"}
_CLOSE = {"}": "curly_bracketed", "]": "square_bracketed", ")": "parenthesized"}
_QUOTE = {'"': "double_quoted", "'": "single_quoted", "`": "grave_quoted"}

# top-100 TLD list used by the reference host pattern
# (token_normalizer.go:476-481) — matched case-sensitively: all-upper or
# all-lower forms only.
_TLDS_UP = (
    "COM|NET|ORG|JP|DE|UK|FR|BR|IT|RU|ES|ME|GOV|PL|CA|AU|CN|CO|IN|NL|EDU|INFO"
    "|EU|CH|ID|AT|KR|CZ|MX|BE|TV|SE|TR|TW|AL|UA|IR|VN|CL|SK|LY|CC|TO|NO|FI|US"
    "|PT|DK|AR|HU|TK|GR|IL|NEWS|RO|MY|BIZ|IE|ZA|NZ|SG|EE|TH|IO|XYZ|PE|BG|HK"
    "|RS|LT|LINK|PH|CLUB|SI|SITE|MOBI|BY|CAT|WIKI|LA|GA|XXX|CF|HR|NG|JOBS"
    "|ONLINE|KZ|UG|GQ|AE|IS|LV|PRO|FM|TIPS|MS|SA|APP"
)
_TLDS_LOW = _TLDS_UP.lower()

# word patterns, in the reference's declaration order
# (token_normalizer.go:462-561) — longest-first within overlaps, so a
# sequential replace chain matches the lexer's longest-match behavior
# for this library.
WORD_PATTERNS: list[tuple[str, str]] = [
    ("email", r"[0-9a-zA-Z_.\-*]+@[0-9a-zA-Z_\-]+(\.[0-9a-zA-Z_\-]+)*"),
    ("url", r"(wss?|https?|ftp)://[0-9a-zA-Z_.\-@:%+~#=?/]+"),
    ("host", rf"([0-9a-zA-Z_\-]+\.)+({_TLDS_UP}|{_TLDS_LOW})"),
    ("filepath", r"(/[a-zA-Z0-9\-_.]+)+"),
    (
        "uuid",
        r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
    ),
    # SHA256 | SHA1 | MD5
    ("hash", r"([0-9a-fA-F]{64})|([0-9a-fA-F]{40})|([0-9a-fA-F]{32})"),
    # Go-monotonic | RFC3339[Nano] | TimeOnly | DateOnly/DateTime
    (
        "datetime",
        r"(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}\.\d+ [+\-]\d{4} [A-Z]+ m=[+\-]\d+\.\d+)"
        r"|(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(\.\d+)?(Z|[+\-]\d{2}:\d{2}))"
        r"|(\d{2}:\d{2}:\d{2})"
        r"|(\d{4}-\d{2}-\d{2}( \d{2}:\d{2}:\d{2})?)",
    ),
    # IPv4 only, strict octets
    (
        "ip",
        r"(25[0-5]|(2[0-4]|1?[0-9])?[0-9])\.(25[0-5]|(2[0-4]|1?[0-9])?[0-9])"
        r"\.(25[0-5]|(2[0-4]|1?[0-9])?[0-9])\.(25[0-5]|(2[0-4]|1?[0-9])?[0-9])",
    ),
    ("duration", r"-?((\d+|\d+\.\d+)(ns|us|µs|ms|s|m|h|d|w))+"),
    ("hex", r"0[xX][0-9a-fA-F]+"),
    ("float", r"-?\d+\.\d+"),
    ("int", r"-?\d+"),
    ("bool", r"[Tt][Rr][Uu][Ee]|[Ff][Aa][Ll][Ss][Ee]"),
]

DEFAULT_PATTERNS = BYTE_PATTERNS + [name for name, _ in WORD_PATTERNS]

# isWord boundary of the reference lexer (token_normalizer.go:453-457)
_B = "[0-9A-Za-z_]"


def _bounded(regex: str) -> str:
    return f"(?<!{_B})(?:{regex})(?!{_B})"


def parse_builtin_patterns(spec: str | list[str] | None) -> set[str]:
    """``"all"`` / ``"no"`` / ``"a|b|c"`` (or a list) -> set of names."""
    if spec is None or spec == "all" or spec == ["all"]:
        return set(DEFAULT_PATTERNS)
    if spec == "no" or spec == ["no"]:
        return set()
    names = spec.split("|") if isinstance(spec, str) else list(spec)
    unknown = [n for n in names if n not in DEFAULT_PATTERNS]
    if unknown:
        raise ValueError(f"invalid normalize pattern(s) {unknown!r}")
    return set(names)


# --------------------------------------------------------------------------
# byte tokenizer (exact port of tokenizer.nextToken,
# token_normalizer.go:313-447)
# --------------------------------------------------------------------------


def tokenize_brackets_quotes(data: str, active: frozenset) -> str:
    out: list[str] = []
    prev_end = 0
    pos = 0
    n = len(data)
    while pos < n:
        cur: str | None = None
        counter = 0
        start = -1
        tok: tuple[int, int, str] | None = None
        i = pos
        while i < n:
            c = data[i]
            p = _OPEN.get(c)
            if p is not None and p in active:
                if cur is None:
                    cur, counter, start = p, 1, i
                elif cur == p:
                    counter += 1
                i += 1
                continue
            p = _CLOSE.get(c)
            if p is not None and p in active:
                if cur == p:
                    counter -= 1
                    if counter <= 0:
                        tok = (start, i + 1, cur)
                        break
                i += 1
                continue
            p = _QUOTE.get(c)
            if p is not None and p in active:
                if cur is None:
                    cur, start = p, i
                    counter = 1
                    j = i + 1
                    while j < n and data[j] == c:
                        counter += 1
                        j += 1
                    i = j
                    continue
                if cur == p:
                    # skip escaped
                    if i > 0 and data[i - 1] == "\\":
                        i += 1
                        continue
                    run_extra = 0
                    j = i + 1
                    while j < n and data[j] == c:
                        run_extra += 1
                        j += 1
                    if counter - 1 - run_extra > 0:
                        i = j
                        continue
                    tok = (start, i + counter, cur)
                    break
                i += 1
                continue
            i += 1
        if tok is None:
            if cur is not None:  # partial token cropped at end-of-data
                out.append(data[prev_end:start])
                out.append(f"<{cur}>")
                prev_end = n
            break
        b, e, name = tok
        out.append(data[prev_end:b])
        out.append(f"<{name}>")
        prev_end = e
        pos = e
    out.append(data[prev_end:])
    return "".join(out)


# --------------------------------------------------------------------------
# longest-match word scanner (only used with custom_patterns; mirrors
# lexmachine maximal-munch + the isWord skip of newToken)
# --------------------------------------------------------------------------


def scan_longest_match(data: str, pats: list[tuple[str, str]]) -> str:
    compiled = [(_re.compile(regex), ph) for regex, ph in pats]
    out: list[str] = []
    i = 0
    n = len(data)
    while i < n:
        best: tuple[int, str] | None = None  # (end, placeholder)
        for rx, ph in compiled:
            m = rx.match(data, i)
            if m and m.end() > m.start():
                if best is None or m.end() > best[0]:
                    best = (m.end(), ph)
        if best is not None:
            end, ph = best
            boundary_ok = (i == 0 or not _is_word(data[i - 1])) and (
                end >= n or not _is_word(data[end])
            )
            # a boundary-skipped match is still consumed (its text passes
            # through raw) — the lexer does not retry inside it
            out.append(ph if boundary_ok else data[i:end])
            i = end
            continue
        out.append(data[i])
        i += 1
    return "".join(out)


def _is_word(c: str) -> bool:
    return c.isascii() and (c.isalnum() or c == "_")


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------


def normalize_tokens(
    col: Column,
    patterns: str | list[str] | None = None,
    custom_patterns: list[dict] | None = None,
) -> Column:
    """Apply the placeholder normalization to a string column.

    ``patterns``: builtin pattern spec (``"all"``/``"no"``/names).
    ``custom_patterns``: list of ``{placeholder, re, priority}`` dicts
    (priority ``first``|``last`` relative to the builtins).
    """
    active = parse_builtin_patterns(patterns)
    custom_patterns = custom_patterns or []
    if not active and not custom_patterns:
        raise ValueError("empty normalize pattern list")
    for cp in custom_patterns:
        try:
            _re.compile(cp["re"])
        except _re.error as e:
            raise ValueError(f"bad custom normalize pattern {cp['re']!r}: {e}") from e

    out = col
    active_bytes = frozenset(active & set(BYTE_PATTERNS))
    if active_bytes:
        out = _tokenizer_udf(active_bytes)(out)

    if custom_patterns:
        # exact longest-match scanner over customs-first + builtins +
        # customs-last (token_normalizer.go:222-239)
        firsts = [
            (c["re"], c["placeholder"])
            for c in custom_patterns
            if c.get("priority", "first") != "last"
        ]
        lasts = [
            (c["re"], c["placeholder"])
            for c in custom_patterns
            if c.get("priority", "first") == "last"
        ]
        builtins = [
            (rx, f"<{name}>") for name, rx in WORD_PATTERNS if name in active
        ]
        pats = firsts + builtins + lasts
        return _scanner_udf(pats)(out)

    for name, regex in WORD_PATTERNS:
        if name in active:
            out = F.regexp_replace(out, _bounded(regex), f"<{name}>")
    return out


def _tokenizer_udf(active: frozenset):
    @F.pandas_udf("string")
    def tok(s: pd.Series) -> pd.Series:
        return s.map(
            lambda x: None if x is None else tokenize_brackets_quotes(x, active)
        )

    return tok


def _scanner_udf(pats: list[tuple[str, str]]):
    @F.pandas_udf("string")
    def scan(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else scan_longest_match(x, pats))

    return scan
