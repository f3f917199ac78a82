"""Session-scoped engine tables created through SQL DDL.

The reference's `$.db().exec("create tag table ...")` creates real engine
tables that later INSERT/APPEND statements and SELECTs operate on
(tql_test.go TestDatabaseBinaryTql).  Here the analogue is a
driver-held catalog of small mutable tables registered as temp views —
the same role the VOLATILE/LOOKUP table classes play (spi/do.go:197-207):
dimension-sized, update-able side tables.  Large append-only data goes
through the parquet tag-table writers instead (io.write_tag_table).

Machbase column types map per §1.2 of SURVEY.md: varchar/text/json ->
string, datetime -> epoch-ns long, double/float -> double, integer family
-> long, binary -> binary.
"""

from __future__ import annotations

import functools
import re
import threading

from pyspark.sql import DataFrame, SparkSession

from neo_server_spark.session import session_catalog

_TYPE_MAP = {
    "varchar": "string", "text": "string", "json": "string",
    "ipv4": "string", "ipv6": "string",
    "datetime": "long",           # epoch-ns convention
    "double": "double", "float": "double",
    "short": "long", "ushort": "long", "integer": "long",
    "uinteger": "long", "int": "long", "long": "long", "ulong": "long",
    "binary": "binary",
}

#: name -> {"cols": [(name, mach_type, spark_type)], "rows": [tuple],
#:          "kind": tag|log|volatile|lookup,
#:          "lengths": [int], "flags": [str],
#:          "df": the frame the view was last registered from}
_TABLES: dict[str, dict] = {}

#: held across every change to a table's rows and the view refresh that
#: follows it, so the view registered last holds the newest rows even
#: when requests write one table concurrently
_LOCK = threading.RLock()


def _locked(fn):
    @functools.wraps(fn)
    def run(*args, **kwargs):
        with _LOCK:
            return fn(*args, **kwargs)
    return run


#: engine default column widths by type (DESC output in fm_dbsrc_test.go
#: SQL_show_table_log_data / SQL_desc_tag_data — spi column-size
#: conventions; binary defaults differ by table kind)
_TYPE_LENGTHS = {"short": 6, "ushort": 5, "integer": 11, "uinteger": 10,
                 "long": 20, "ulong": 20, "float": 17, "double": 17,
                 "datetime": 31, "ipv4": 15, "ipv6": 45, "varchar": 400,
                 "json": 32767, "text": 67108864}

#: machbase DDL type -> the api-layer type name the JSON envelope reports
#: (fm_dbsrc_test.go SQL_json "data.types"; neo-client api column types)
_JSON_TYPE_NAMES = {"short": "int16", "ushort": "uint16",
                    "integer": "int32", "uinteger": "uint32",
                    "long": "int64", "ulong": "uint64",
                    "int": "int32",
                    "float": "float", "double": "double",
                    "varchar": "string", "text": "string", "json": "json",
                    "ipv4": "ipv4", "ipv6": "ipv6",
                    "datetime": "datetime", "binary": "binary"}


class DdlError(Exception):
    pass


def _schema_ddl(cols) -> str:
    return ", ".join(f"`{c}` {st}" for c, _m, st in cols)


def _refresh_view(spark: SparkSession, name: str) -> None:
    t = _TABLES[name]
    t["df"] = spark.createDataFrame(t["rows"], _schema_ddl(t["cols"]))
    session_catalog(spark).put_view(name, t["df"])


def table_frame(name: str) -> DataFrame:
    """The frame a DDL table's view was last registered from; a new
    frame after every write."""
    return _TABLES[name.lower()]["df"]


def coerce(value, mach_type: str):
    """Per-column value coercion (fm_dbsink.go:236-245 DataType.Apply):
    '0x..' hex strings land in binary columns as bytes, numerics cast.
    Malformed literals surface as DdlError so they stay catchable from
    script-level try/catch rather than aborting the whole run."""
    if value is None:
        return None
    try:
        if mach_type == "binary":
            if isinstance(value, (bytes, bytearray)):
                return bytes(value)
            s = str(value)
            return bytes.fromhex(s[2:] if s.startswith(("0x", "0X")) else s)
        if mach_type == "datetime":
            ms = getattr(value, "ms", None)   # jslite JSDate → epoch ns
            if ms is not None:
                return int(ms * 1e6)
            return int(value)
        st = _TYPE_MAP.get(mach_type, "string")
        if st == "long":
            return int(value)
        if st == "double":
            return float(value)
        return str(value)
    except (ValueError, TypeError) as ex:
        raise DdlError(
            f"cannot convert {value!r} to {mach_type}: {ex}") from ex


@_locked
def create_table(spark: SparkSession, sql: str) -> bool:
    """CREATE [TAG|VOLATILE|LOOKUP] TABLE [IF NOT EXISTS] name (cols...)
    [TABLE_OPT=..., ...] — the engine DDL shape (server tag_data/log_data
    setup DDLs; TAG_PARTITION_COUNT-style trailing options are accepted
    and ignored, they describe the engine's physical sharding which
    parquet partitioning owns here).  Column modifiers PRIMARY KEY /
    BASETIME / SUMMARIZED are recorded as the DESC flags ('tag name' /
    'base time' / 'summarized').  Returns False when the statement is not
    a CREATE TABLE."""
    m = re.match(
        r"create\s+(?:(tag|volatile|lookup)\s+)?table\s+"
        r"(if\s+not\s+exists\s+)?(\w+)\s*\((.*)\)\s*"
        r"(?:[A-Za-z_]+\s*=\s*\w+\s*,?\s*)*;?\s*$",
        sql.strip(), re.I | re.S)
    if not m:
        return False
    kind = (m.group(1) or "log").lower()
    exists_ok, name, body = bool(m.group(2)), m.group(3).lower(), m.group(4)
    if name in _TABLES:
        if exists_ok:
            return True
        raise DdlError(f"table {name} already exists")
    cols, lengths, flags = [], [], []
    # split on top-level commas (varchar(100) has inner parens)
    depth, part, parts = 0, [], []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(part))
            part = []
        else:
            part.append(ch)
    parts.append("".join(part))
    for coldef in parts:
        words = coldef.split()
        if len(words) < 2:
            raise DdlError(f"bad column definition {coldef.strip()!r}")
        cname = words[0].lower()
        ctype = re.sub(r"\(.*", "", words[1]).lower()
        if ctype not in _TYPE_MAP:
            raise DdlError(f"unknown column type {words[1]!r}")
        lm = re.search(r"\((\d+)\)", words[1])
        if lm:
            length = int(lm.group(1))
        elif ctype == "binary":
            # engine default binary width: 32767 inside a tag table,
            # 64 MB in log tables (fm_dbsrc_test.go DESC outputs)
            length = 32767 if kind == "tag" else 67108864
        else:
            length = _TYPE_LENGTHS.get(ctype, 0)
        tail = " ".join(words[2:]).lower()
        if "primary" in tail and "key" in tail:
            flag = "tag name"
        elif "basetime" in tail:
            flag = "base time"
        elif "summarized" in tail:
            flag = "summarized"
        else:
            flag = ""
        cols.append((cname, ctype, _TYPE_MAP[ctype]))
        lengths.append(length)
        flags.append(flag)
    _TABLES[name] = {"cols": cols, "rows": [], "kind": kind,
                     "lengths": lengths, "flags": flags}
    _refresh_view(spark, name)
    return True


@_locked
def drop_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE: the view goes too, and the session's registry forgets
    the name, so a TESTDATA view it shadowed comes back on the next read."""
    name = name.lower()
    if name not in _TABLES:
        raise DdlError(f"table {name} does not exist")
    del _TABLES[name]
    session_catalog(spark).drop_view(spark, name)


def has_table(name: str) -> bool:
    return name.lower() in _TABLES


def table_kind(name: str) -> str | None:
    """tag | log | volatile | lookup for a DDL-created table, else None."""
    t = _TABLES.get(name.lower())
    return t.get("kind", "log") if t else None


def table_desc(name: str):
    """DESC rows for a DDL table: (COLUMN, TYPE, LENGTH, FLAG) with the
    engine's type spelling (fm_dbsrc_test.go SQL_desc_tag_data)."""
    t = _TABLES[name.lower()]
    lengths = t.get("lengths") or [
        _TYPE_LENGTHS.get(m, 0) for _c, m, _s in t["cols"]]
    flags = t.get("flags") or [""] * len(t["cols"])
    return [(c.upper(), m, lengths[i], flags[i])
            for i, (c, m, _s) in enumerate(t["cols"])]


def json_types(name: str) -> list[str]:
    """api-layer type names for the JSON envelope 'types' array, in
    declared column order (fm_dbsrc_test.go SQL_json)."""
    t = _TABLES[name.lower()]
    return [_JSON_TYPE_NAMES.get(m, "string") for _c, m, _s in t["cols"]]


@_locked
def insert_rows(spark: SparkSession, name: str, columns, rows) -> int:
    """Append rows (already positionally matched to `columns`), coercing
    per the declared machbase type; unnamed columns become NULL."""
    name = name.lower()
    t = _TABLES[name]
    colmap = {c: i for i, (c, _m, _s) in enumerate(t["cols"])}
    mach = {c: m for c, m, _s in t["cols"]}
    n = 0
    for row in rows:
        out = [None] * len(t["cols"])
        for cname, v in zip(columns, row):
            cl = cname.lower()
            if cl not in colmap:
                raise DdlError(f"unknown column {cname!r} in {name}")
            out[colmap[cl]] = coerce(v, mach[cl])
        t["rows"].append(tuple(out))
        n += 1
    _refresh_view(spark, name)
    return n


def _split_values(clause: str) -> list[str]:
    """Split a VALUES(...) body on top-level commas, honoring single- and
    double-quoted literals (with '' / "" escaping) so `'x,y'` stays one
    value."""
    parts, part, quote, i = [], [], None, 0
    while i < len(clause):
        ch = clause[i]
        if quote:
            part.append(ch)
            if ch == quote:
                if i + 1 < len(clause) and clause[i + 1] == quote:
                    part.append(quote)
                    i += 1
                else:
                    quote = None
        elif ch in ("'", '"'):
            quote = ch
            part.append(ch)
        elif ch == ",":
            parts.append("".join(part).strip())
            part = []
        else:
            part.append(ch)
        i += 1
    parts.append("".join(part).strip())
    if quote:
        raise DdlError(f"unterminated string literal in VALUES ({clause!r})")
    return parts


def _parse_literal(p: str):
    if p.startswith("'") and p.endswith("'") and len(p) >= 2:
        return p[1:-1].replace("''", "'")
    if p.startswith('"') and p.endswith('"') and len(p) >= 2:
        return p[1:-1].replace('""', '"')
    if p.lower() == "null":
        return None
    try:
        return float(p) if ("." in p or "e" in p.lower()) else int(p)
    except ValueError as ex:
        raise DdlError(f"bad literal {p!r} in VALUES") from ex


def exec_sql(spark: SparkSession, sql: str, params=()) -> int:
    """$.db().exec(...) surface: CREATE / INSERT INTO ... VALUES(?,...) /
    DROP TABLE / EXEC table_flush.  Returns the affected-row count
    (jsh/lib/db/dbms.go exec → {message, rowsAffected}); raises DdlError
    on failure (the caller re-throws it into the script as a panic)."""
    s = sql.strip().rstrip(";").strip()
    low = s.lower()
    if low.split()[:1] in (["backup"], ["restore"], ["mount"], ["unmount"]):
        from . import backup as _backup
        try:
            n = _backup.backup_exec(spark, s)
        except _backup.BackupError as ex:
            raise DdlError(str(ex)) from ex
        if n is not None:
            return n
    if low.startswith("create"):
        if not create_table(spark, s):
            raise DdlError(f"unsupported DDL {s[:40]!r}")
        return 0
    m = re.match(r"insert\s+into\s+(\w+)\s*(?:\(([^)]*)\))?\s*"
                 r"values\s*\((.*)\)", s, re.I | re.S)
    if m:
        name = m.group(1).lower()
        if name not in _TABLES:
            raise DdlError(f"table {name} does not exist")
        if m.group(2):
            columns = [c.strip().lower() for c in m.group(2).split(",")]
        else:   # INSERT INTO t VALUES (...) — positional over all columns
            columns = [c for c, _m, _s in _TABLES[name]["cols"]]
        placeholders = _split_values(m.group(3))
        if len(placeholders) != len(columns):
            raise DdlError(
                f"column/value count mismatch ({len(columns)} columns, "
                f"{len(placeholders)} values)")
        vals, pi = [], 0
        for p in placeholders:
            if p == "?":
                vals.append(params[pi] if pi < len(params) else None)
                pi += 1
            elif p.lower() == "now":
                # the engine's NOW keyword inside VALUES — epoch ns
                import time as _time
                vals.append(int(_time.time() * 1e9))
            else:
                vals.append(_parse_literal(p))
        return insert_rows(spark, name, columns, [tuple(vals)])
    m = re.match(r"drop\s+table\s+(\w+)", s, re.I)
    if m:
        drop_table(spark, m.group(1))
        return 0
    if re.match(r"exec\s+table_flush", s, re.I):
        return 0    # commit-time no-op on this engine
    m = re.match(r"delete\s+from\s+(\w+)(?:\s+where\s+(.+))?$",
                 s, re.I | re.S)
    if m:
        return _delete_rows(spark, m.group(1), m.group(2), params)
    m = re.match(r"update\s+(\w+)\s+set\s+(.+?)(?:\s+where\s+(.+))?$",
                 s, re.I | re.S)
    if m:
        return _update_rows(spark, m.group(1), m.group(2), m.group(3),
                            params)
    raise DdlError(f"unsupported exec statement {s[:40]!r}")


def _bind_params(clause: str, params, used: list[int]) -> str:
    """Substitute '?' placeholders (outside string literals) with SQL
    literals, consuming from *params* left to right across clauses."""
    out, quote = [], None
    for ch in clause:
        if quote:
            out.append(ch)
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
            out.append(ch)
        elif ch == "?":
            i = used[0]
            used[0] += 1
            p = params[i] if i < len(params) else None
            if p is None:
                out.append("NULL")
            elif isinstance(p, bool):
                out.append("TRUE" if p else "FALSE")
            elif isinstance(p, str):
                out.append("'" + p.replace("'", "''") + "'")
            else:
                out.append(repr(p))
        else:
            out.append(ch)
    return "".join(out)


def _store_rows(spark: SparkSession, name: str, rows) -> None:
    t = _TABLES[name]
    t["rows"] = [tuple(bytes(v) if isinstance(v, bytearray) else v
                       for v in r) for r in rows]
    _refresh_view(spark, name)


@_locked
def _delete_rows(spark: SparkSession, name: str, cond: str | None,
                 params) -> int:
    """DELETE FROM t [WHERE cond] — the engine's mutable-table surface
    (VOLATILE/LOOKUP semantics, spi/do.go table kinds).  The survivor set
    is computed by Spark SQL over the registered view (the predicate
    grammar comes for free), then swapped into the catalog."""
    name = name.lower()
    if name not in _TABLES:
        raise DdlError(f"table {name} does not exist")
    before = len(_TABLES[name]["rows"])
    if cond is None:
        _store_rows(spark, name, [])
        return before
    used = [0]
    cond = _bind_params(cond, params, used)
    # per-row verdicts keyed by an explicit insertion index (arrival order
    # is the engine-table scan order; collect order alone is not a
    # contract)
    try:
        flags = _indexed_eval(spark, name, f"({cond}) AS __del")
    except Exception as ex:
        raise DdlError(f"bad DELETE predicate: {ex}") from ex
    kept = [r for i, r in enumerate(_TABLES[name]["rows"])
            if not flags[i]["__del"]]
    _store_rows(spark, name, kept)
    return before - len(kept)


def _indexed_eval(spark: SparkSession, name: str, select: str):
    """Evaluate SQL expressions against an index-tagged copy of a DDL
    table; returns rows keyed by insertion index."""
    t = _TABLES[name]
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(t["rows"])],
        "`__i` long, " + _schema_ddl(t["cols"]))
    df.createOrReplaceTempView("__ddl_mut")
    try:
        out = spark.sql(
            f"SELECT __i, {select} FROM __ddl_mut ORDER BY __i").collect()
    finally:
        spark.catalog.dropTempView("__ddl_mut")
    return {r["__i"]: r for r in out}


@_locked
def _update_rows(spark: SparkSession, name: str, setc: str,
                 cond: str | None, params) -> int:
    """UPDATE t SET c = expr[, ...] [WHERE cond] — per-column CASE
    projection over the registered view; affected = matching rows."""
    name = name.lower()
    if name not in _TABLES:
        raise DdlError(f"table {name} does not exist")
    used = [0]
    setc = _bind_params(setc, params, used)
    cond = _bind_params(cond, params, used) if cond else "TRUE"
    assigns = {}
    depth, part, parts = 0, [], []
    for ch in setc:
        depth += ch == "("
        depth -= ch == ")"
        if ch == "," and depth == 0:
            parts.append("".join(part))
            part = []
        else:
            part.append(ch)
    parts.append("".join(part))
    for p in parts:
        if "=" not in p:
            raise DdlError(f"bad SET clause {p.strip()!r}")
        c, expr = p.split("=", 1)
        assigns[c.strip().lower()] = expr.strip()
    t = _TABLES[name]
    sel = []
    for c, m, _st in t["cols"]:
        if c in assigns:
            sel.append(f"CASE WHEN ({cond}) THEN ({assigns[c]}) "
                       f"ELSE `{c}` END AS `{c}`")
        else:
            sel.append(f"`{c}`")
    unknown = set(assigns) - {c for c, _m, _s in t["cols"]}
    if unknown:
        raise DdlError(f"unknown column {sorted(unknown)[0]!r} in {name}")
    try:
        out = _indexed_eval(
            spark, name,
            ", ".join(sel) + f", ({cond}) AS __hit")
    except Exception as ex:
        raise DdlError(f"bad UPDATE statement: {ex}") from ex
    mach = {c: m for c, m, _s in t["cols"]}
    coerced, n = [], 0
    for i in range(len(t["rows"])):
        r = out[i]
        n += bool(r["__hit"])
        coerced.append(tuple(coerce(r[c], mach[c])
                             for c, _m, _s in t["cols"]))
    _store_rows(spark, name, coerced)
    return n
