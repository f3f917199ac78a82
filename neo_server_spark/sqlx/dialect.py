"""Machbase SQL dialect shims on Spark SQL (SURVEY §2.7).

The server generates a small dialect against the C engine
(mods/server/http_lake.go); everything maps onto Spark SQL builtins plus a
few registered helper functions and one textual rewrite pass:

- DECODE(a,b,c[,d])       -> registered SQL macro (http_lake.go:794)
- FIRST(t,v) / LAST(t,v)  -> min_by/max_by (http_lake.go:871-877)
- DATE_TRUNC('SEC',t,n)   -> machbase 3-arg variant on ns longs (1707-1716)
- TO_CHAR / TO_TIMESTAMP  -> date_format / to_timestamp
- /*+ SCAN_BACKWARD */    -> ORDER BY time DESC rewrite
- time ROLLUP n unit      -> rollup.RollupRouter (materialized rollups)
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from neo_server_spark.session import session_catalog


def register_dialect(spark: SparkSession) -> None:
    """Register dialect helpers as SQL functions usable in spark.sql().

    Implemented as SQL UDFs (Spark 3.4+ `CREATE FUNCTION ... RETURN`) — pure
    SQL bodies, so Catalyst inlines them: zero UDF overhead.  DECODE is
    rewritten textually (it is type-polymorphic; SQL UDFs are typed).
    Registered once per session; later calls make no catalog call.
    """
    cat = session_catalog(spark)
    with cat.lock:
        if cat.dialect:
            return
        spark.sql("""
            CREATE OR REPLACE TEMPORARY FUNCTION date_trunc_ns(unit STRING, t BIGINT, n INT)
            RETURNS BIGINT RETURN t - pmod(t, n * CASE upper(unit)
                WHEN 'NSEC' THEN 1
                WHEN 'USEC' THEN 1000
                WHEN 'MSEC' THEN 1000000
                WHEN 'SEC'  THEN 1000000000
                WHEN 'MIN'  THEN 60000000000
                WHEN 'MINUTE' THEN 60000000000
                WHEN 'HOUR' THEN 3600000000000
                WHEN 'DAY'  THEN 86400000000000
                END)
        """)
        cat.dialect = True


_SCAN_BACKWARD = re.compile(r"/\*\+\s*SCAN_BACKWARD\(\s*(\w+)\s*\)\s*\*/", re.I)
_DATE_TRUNC3 = re.compile(r"\bDATE_TRUNC\s*\(\s*('(?:SEC|MIN|MINUTE|HOUR|DAY|MSEC|USEC|NSEC)')\s*,", re.I)
_TO_CHAR = re.compile(r"\bTO_CHAR\s*\(", re.I)


def rewrite_lake_sql(sql: str) -> str:
    """Textual dialect rewrite: machbase lake-API SQL -> Spark SQL.

    Handles the token-level renames; ROLLUP-hint routing is separate
    (rollup.RollupRouter) because it changes the scanned table.
    """
    out = sql
    m = _SCAN_BACKWARD.search(out)
    if m:
        out = _SCAN_BACKWARD.sub("", out)
        if re.search(r"\bORDER\s+BY\b", out, re.I) is None:
            out = out.rstrip().rstrip(";") + " ORDER BY time DESC"
    out = _rewrite_decode(out)
    out = _rewrite_two_arg(out, "FIRST", "min_by")
    out = _rewrite_two_arg(out, "LAST", "max_by")
    out = _DATE_TRUNC3.sub(r"date_trunc_ns(\1,", out)
    out = _TO_CHAR.sub("date_format(", out)
    return out


def _split_args(sql: str, start: int):
    """Parse a top-level comma-separated arg list starting after '('.
    Returns (args, index-of-closing-paren)."""
    depth, args, cur, i = 1, [], [], start
    while i < len(sql) and depth > 0:
        ch = sql[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                break
        if depth == 1 and ch == ",":
            args.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
        i += 1
    args.append("".join(cur).strip())
    return args, i


def _rewrite_two_arg(sql: str, name: str, target: str) -> str:
    """FIRST(t, v) -> min_by(v, t) / LAST(t, v) -> max_by(v, t)
    (http_lake.go:871-877) — aggregate args swap, so a typed SQL UDF can't
    host them (aggregates are banned in SQL scalar functions)."""
    out = sql
    pat = re.compile(rf"\b{name}\s*\(", re.I)
    while True:
        m = pat.search(out)
        if not m:
            return out
        args, close = _split_args(out, m.end())
        if len(args) != 2:
            return out  # not the dialect form; leave untouched
        t, v = args
        out = out[: m.start()] + f"{target}({v}, {t})" + out[close + 1:]


def _rewrite_decode(sql: str) -> str:
    """DECODE(a, b, c[, d]) -> CASE WHEN a <=> b THEN c ELSE d END
    (paren-aware; DECODE is type-polymorphic so a typed SQL UDF can't host it)."""
    out = sql
    while True:
        m = re.search(r"\bDECODE\s*\(", out, re.I)
        if not m:
            return out
        args, i = _split_args(out, m.end())
        if len(args) == 3:
            a, b, c = args
            repl = f"CASE WHEN {a} <=> {b} THEN {c} END"
        else:
            a, b, c, d = args[0], args[1], args[2], ", ".join(args[3:])
            repl = f"CASE WHEN {a} <=> {b} THEN {c} ELSE {d} END"
        out = out[: m.start()] + repl + out[i + 1:]


def lake_sql(spark: SparkSession, sql: str) -> "DataFrame":  # noqa: F821
    """Run a lake-dialect SQL string through the rewrite + Spark SQL."""
    from . import backup as _backup
    register_dialect(spark)
    return spark.sql(rewrite_lake_sql(_backup.rewrite_mounts(sql)))
