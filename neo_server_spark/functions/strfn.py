"""String scalar functions (reference: mods/tql/fm_fake.go:540-638 string
helpers; regexp/glob fm_monad.go:2144-2167).

All map to built-in pyspark.sql.functions — JVM-side, codegen-friendly.
"""

from __future__ import annotations

import re as _re

import pyspark.sql.functions as F
from pyspark.sql import Column


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def parse_float(c): return _col(c).cast("double")          # noqa: E704
def parse_bool(c):  return _col(c).cast("boolean")         # noqa: E704
def str_trim_space(c): return F.trim(_col(c))              # noqa: E704
def str_to_upper(c): return F.upper(_col(c))               # noqa: E704
def str_to_lower(c): return F.lower(_col(c))               # noqa: E704


def str_trim_prefix(c, prefix: str) -> Column:
    col = _col(c)
    return F.when(col.startswith(prefix),
                  col.substr(F.lit(len(prefix) + 1), F.length(col))).otherwise(col)


def str_trim_suffix(c, suffix: str) -> Column:
    col = _col(c)
    return F.when(col.endswith(suffix),
                  col.substr(F.lit(1), F.length(col) - len(suffix))).otherwise(col)


def str_has_prefix(c, prefix: str) -> Column:
    return _col(c).startswith(prefix)


def str_has_suffix(c, suffix: str) -> Column:
    return _col(c).endswith(suffix)


def str_sprintf(fmt: str, *cols) -> Column:
    """strSprintf — Go %v-ish via format_string."""
    return F.format_string(fmt, *[_col(c) for c in cols])


def str_sub(c, start: int, length: int | None = None) -> Column:
    """strSub — the reference's EXACT semantics (fm_fake.go:592-630):
    rune-positioned; negative offset counts from the end ('' when it
    reaches past the start); offset past the end is ''; negative/absent
    count means to-the-end.  Spark substring is codepoint-based, so rune
    math maps directly."""
    col = _col(c)
    n = F.length(col)
    off = int(start)
    count = -1 if length is None or int(length) < 0 else int(length)
    if off < 0:
        idx = F.when(F.lit(-off) >= n, F.lit(None).cast("int")) \
            .otherwise(n + F.lit(off))
    else:
        idx = F.when(F.lit(off) >= n, F.lit(None).cast("int")) \
            .otherwise(F.lit(off))
    length_expr = F.lit(2**31 - 1) if count == -1 else F.lit(count)
    return F.coalesce(
        F.when(idx.isNotNull(), col.substr(idx + 1, length_expr)),
        F.when(col.isNotNull(), F.lit("")))


def str_index(c, sub: str) -> Column:
    """strIndex — 0-based BYTE index of first occurrence, -1 if absent
    (Go strings.Index, fm_fake.go:632: byte offsets, not runes —
    func_test.go TestStrIndex pins the emoji case)."""
    col = _col(c)
    p = F.instr(col, sub)  # 1-based char position
    return F.when(p == 0, F.lit(-1)) \
        .otherwise(F.octet_length(col.substr(F.lit(1), p - 1)))


def str_last_index(c, sub: str) -> Column:
    """strLastIndex — 0-based BYTE index of the last occurrence."""
    col = _col(c)
    rev_idx = F.instr(F.reverse(col), sub[::-1])
    char0 = F.length(col) - rev_idx - len(sub) + 1  # 0-based char index
    return F.when(rev_idx == 0, F.lit(-1)) \
        .otherwise(F.octet_length(col.substr(F.lit(1), char0)))


def regexp(pattern: str, c) -> Column:
    """regexp(pattern, text) (fm_monad.go:2144-2163)."""
    return _col(c).rlike(pattern)


def glob(pattern: str, c) -> Column:
    """glob(pattern, text) (fm_monad.go:2165-2167) — translate glob to regex."""
    rx = "^" + _re.escape(pattern).replace(r"\*", ".*").replace(r"\?", ".") + "$"
    return _col(c).rlike(rx)
