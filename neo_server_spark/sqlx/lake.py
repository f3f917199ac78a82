"""Lake REST API layer (reference: mods/server/http_lake.go).

The lake server exposes tag data over parameterized REST endpoints
(`/lakes/values/:type`); each handler BUILDS machbase SQL from the query
params (GetRawData http_lake.go:330-523, GetCalculateData :556-752,
GetLastData :842-990, GetCurrentData :994-1148, GetStatData :1150-1260,
GetPivotData :1262-1344) and shapes the rows into the SelectReturn
envelope (MakeReturnFormat :1448-1481, ConvertFormat0/1 :1506-1650).

This module is the same split: SQL-text builders that produce the
REFERENCE'S generated SQL shapes — scan hints, TO_CHAR time columns,
DATE_TRUNC buckets, FIRST/LAST aggregates — which then route through the
lake dialect (`sqlx.dialect.lake_sql`) exactly like a hand-written lake
query, plus the return-format shapers.  Nothing here touches DataFrames
except the final execution; the SQL goes through the same Catalyst path
every other lake query takes (pushdown, pruning).

View mapping: machbase's TAG table and V$TAG_STAT system view are the
registered `TAG` / `TAG_STAT` temp views (the HTTP layer registers both
from the session's tag table on demand); machbase identifiers like V$…
are not legal Spark view names.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from neo_server_spark.session import session_catalog

#: lake plan limits (http_lake.go lakePlanMap "basic" row)
LIMIT_SELECT_TAG = 100
LIMIT_SELECT_VALUE = 10000

_AGGS = {"MIN", "MAX", "AVG", "SUM", "COUNT", "SUMSQ"}

#: DATE_TRUNC unit second-counts (makeDateTrunc, http_lake.go:1700-1716)
_INTERVAL_UNITS = {"SEC": 1, "MIN": 60, "HOUR": 3600}


def _java_time_format(fmt: str) -> str:
    """machbase SQL date format ('YYYY-MM-DD HH24:MI:SS') -> Java pattern
    for the dialect's TO_CHAR -> date_format rewrite."""
    from neo_server_spark.functions.timefn import (go_layout_to_java,
                                                   sql_timeformat_to_layout)
    pattern, _digits, _trim = go_layout_to_java(
        sql_timeformat_to_layout(fmt))
    return pattern


def make_time_column(column: str, fmt: str, alias: str) -> str:
    """makeTimeColumn (http_lake.go:1990-2013): epoch names keep integer
    resolution; anything else renders TO_CHAR(column, format).  ``column``
    is epoch-ns."""
    f = (fmt or "").upper()
    if f in ("NANOSECOND", "NS", "NANO"):
        out = column
    elif f in ("MICROSECOND", "US", "MICRO"):
        out = f"{column} DIV 1000"
    elif f in ("MILLISECOND", "MS", "MILLI"):
        out = f"{column} DIV 1000000"
    elif f in ("SECOND", "S", "SEC"):
        out = f"{column} DIV 1000000000"
    elif f == "":
        out = column
    else:
        out = (f"TO_CHAR(timestamp_micros({column} DIV 1000), "
               f"'{_java_time_format(fmt)}')")
    return f"{out} AS {alias}" if alias else out


def _in_condition(column: str, values: list[str]) -> str:
    quoted = ", ".join("'" + v.replace("'", "''") + "'" for v in values)
    return f"{column} IN ({quoted})"


def _limit(offset: str | None, limit: str | None) -> str:
    lim = str(int(limit)) if limit else str(LIMIT_SELECT_VALUE)
    if offset:
        return f" LIMIT {int(offset)}, {lim}"
    return f" LIMIT {lim}"


def _scan_hint(direction: str | None, table: str) -> str:
    # makeScanHint: direction '1' = backward scan
    return f"/*+ SCAN_BACKWARD({table}) */ " if direction == "1" else ""


def raw_sql(tags: list[str], start_ns: int, end_ns: int,
            columns: list[str] | None = None,
            aliases: list[str] | None = None,
            date_format: str = "YYYY-MM-DD HH24:MI:SS",
            direction: str | None = None, offset: str | None = None,
            limit: str | None = None, table: str = "TAG") -> str:
    """GetRawData's generated SELECT (http_lake.go:470-483)."""
    cols = columns or ["VALUE"]
    als = aliases or cols
    value_cols = ", ".join(
        f"{c} AS {a}" for c, a in zip(cols, als))
    return (
        "SELECT " + _scan_hint(direction, table)
        + "NAME, " + make_time_column("TIME", date_format, "TIME") + ", "
        + value_cols
        + f" FROM {table} WHERE " + _in_condition("NAME", tags)
        + f" AND TIME BETWEEN {int(start_ns)} AND {int(end_ns)}"
        + _limit(offset, limit))


def calc_sql(tags: list[str], start_ns: int, end_ns: int,
             calc_mode: str = "AVG", interval_type: str = "SEC",
             interval_value: int = 1,
             date_format: str = "YYYY-MM-DD HH24:MI:SS",
             offset: str | None = None, limit: str | None = None,
             table: str = "TAG") -> str:
    """GetCalculateData / GetGroupData's generated SELECT
    (http_lake.go:525-545 comment shape): DATE_TRUNC bucket + aggregate
    over the ranged tag scan."""
    mode = calc_mode.upper()
    if mode not in _AGGS:
        raise ValueError(f"Wrong Parameter. (calc_mode) : {calc_mode}")
    agg = "SUM(VALUE*VALUE)" if mode == "SUMSQ" else f"{mode}(VALUE)"
    unit = interval_type.upper()
    if unit not in _INTERVAL_UNITS:
        raise ValueError(f"Wrong Parameter. (interval_type) : "
                         f"{interval_type}")
    n = int(interval_value) * _INTERVAL_UNITS[unit]
    trunc = f"DATE_TRUNC('SEC', TIME, {n})"
    return (
        "SELECT NAME, "
        + make_time_column(trunc, date_format, "TIME")
        + f", {agg} AS VALUE FROM {table}"
        + " WHERE " + _in_condition("NAME", tags)
        + f" AND TIME BETWEEN {int(start_ns)} AND {int(end_ns)}"
        + " GROUP BY NAME, " + make_time_column(trunc, "", "")
        + " ORDER BY TIME"
        + _limit(offset, limit))


def last_sql(tags: list[str], start_ns: int, end_ns: int,
             date_format: str = "YYYY-MM-DD HH24:MI:SS",
             table: str = "TAG") -> str:
    """GetLastData: newest row per tag inside the range (LAST aggregate —
    dialect rewrites to max_by)."""
    return (
        "SELECT NAME, "
        + make_time_column("LAST(TIME, TIME)", date_format, "TIME")
        + ", LAST(TIME, VALUE) AS VALUE"
        + f" FROM {table} WHERE " + _in_condition("NAME", tags)
        + f" AND TIME BETWEEN {int(start_ns)} AND {int(end_ns)}"
        + " GROUP BY NAME")


def current_sql(tag_like: str,
                date_format: str = "YYYY-MM-DD HH24:MI:SS",
                table: str = "TAG") -> str:
    """GetCurrentData (http_lake.go:1082-1090): latest value of every tag
    whose name LIKE the pattern."""
    like = "'%" + tag_like.replace("'", "''") + "%'"
    return (
        "SELECT NAME, "
        + make_time_column("LAST(TIME, TIME)", date_format, "TIME")
        + ", LAST(TIME, VALUE) AS VALUE"
        + f" FROM {table} WHERE NAME LIKE {like}"
        + " GROUP BY NAME")


def stat_sql(tags: list[str],
             date_format: str = "YYYY-MM-DD HH24:MI:SS",
             offset: str | None = None, limit: str | None = None,
             table: str = "TAG_STAT") -> str:
    """GetStatData (http_lake.go:1201-1212): V$TAG_STAT projection."""
    return (
        "SELECT NAME, ROW_COUNT, MIN_VALUE, MAX_VALUE, "
        + make_time_column("MIN_TIME", date_format, "MIN_TIME") + ", "
        + make_time_column("MAX_TIME", date_format, "MAX_TIME") + ", "
        + make_time_column("MIN_VALUE_TIME", date_format,
                           "MIN_VALUE_TIME") + ", "
        + make_time_column("MAX_VALUE_TIME", date_format,
                           "MAX_VALUE_TIME") + ", "
        + make_time_column("RECENT_ROW_TIME", date_format,
                           "RECENT_ROW_TIME")
        + f" FROM {table} WHERE " + _in_condition("NAME", tags)
        + _limit(offset, limit))


def pivot_sql(tags: list[str], start_ns: int, end_ns: int,
              calc_mode: str = "AVG", interval_type: str = "SEC",
              interval_value: int = 1,
              date_format: str = "YYYY-MM-DD HH24:MI:SS",
              table: str = "TAG") -> str:
    """GetPivotData: the calculated query pivoted on tag name (PIVOT over
    the DATE_TRUNC bucket; the dialect/Catalyst pivot path)."""
    mode = calc_mode.upper()
    if mode not in _AGGS:
        raise ValueError(f"Wrong Parameter. (calc_mode) : {calc_mode}")
    agg = "SUM(VALUE*VALUE)" if mode == "SUMSQ" else f"{mode}(VALUE)"
    n = int(interval_value) * _INTERVAL_UNITS[interval_type.upper()]
    trunc = f"DATE_TRUNC('SEC', TIME, {n})"
    quoted = ", ".join("'" + t.replace("'", "''") + "'" for t in tags)
    return (
        "SELECT * FROM ("
        "SELECT NAME, "
        + make_time_column(trunc, date_format, "TIME")
        + f", VALUE FROM {table}"
        + " WHERE " + _in_condition("NAME", tags)
        + f" AND TIME BETWEEN {int(start_ns)} AND {int(end_ns)}"
        + f") PIVOT ({agg} FOR NAME IN ({quoted}))"
        + " ORDER BY TIME")


# ------------------------------------------------------------ return shape

def select_return(df: DataFrame, mode: str, fmt: str,
                  tag_list: list[str]) -> dict:
    """MakeReturnFormat + ConvertFormat0/1 (http_lake.go:1448-1650):
    columns drop the leading NAME; format 0 groups rows per tag
    ([{tag_name, data:[{col: val}..]}]); format 1 transposes each tag's
    rows into column arrays."""
    cols = df.columns
    rows = [list(r) for r in df.collect()]
    out_cols = cols[1:] if cols and cols[0].upper() == "NAME" else cols
    columns = [{"name": c.upper(), "type": 0, "length": 0}
               for c in out_cols]
    result: dict = {"calc_mode": mode, "columns": columns}
    if not rows:
        result["samples"] = []
        return result
    if cols and cols[0].upper() == "NAME":
        per_tag: dict[str, list] = {t: [] for t in tag_list}
        for r in rows:
            per_tag.setdefault(str(r[0]), []).append(r[1:])
        samples = []
        for t in tag_list:
            data = [dict(zip((c.upper() for c in out_cols), vals))
                    for vals in per_tag.get(t, [])]
            if fmt == "1":
                samples.append({
                    "tag_name": t,
                    "data": {c.upper(): [row[i] for row in
                                         per_tag.get(t, [])]
                             for i, c in enumerate(out_cols)}})
            else:
                samples.append({"tag_name": t, "data": data})
        result["samples"] = samples
    else:
        if fmt == "1":
            result["samples"] = [{
                "data": {c.upper(): [row[i] for row in rows]
                         for i, c in enumerate(out_cols)}}]
        else:
            result["samples"] = [
                dict(zip((c.upper() for c in out_cols), r)) for r in rows]
    return result


def register_lake_views(spark: SparkSession, tag_df: DataFrame) -> None:
    """Register the TAG and TAG_STAT views the lake SQL shapes address
    (machbase's TAG / V$TAG_STAT).  A no-op while ``tag_df`` is the frame
    they were last registered from in this session."""
    from neo_server_spark.sqlx import catalog
    cat = session_catalog(spark)
    with cat.lock:
        if cat.lake_base is tag_df:
            return
        up = tag_df.select(
            *[tag_df[c].alias(c.upper()) for c in tag_df.columns])
        up.createOrReplaceTempView("TAG")
        catalog.show_tags_full(tag_df).createOrReplaceTempView("TAG_STAT")
        cat.lake_base = tag_df
