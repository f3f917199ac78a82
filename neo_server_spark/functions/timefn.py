"""Time scalar functions (reference: mods/tql/fm_time.go).

Convention: the engine's canonical time is epoch-ns LongType (machbase
DATETIME, spi/machsvr/machsvr.go:901-917).  Helpers convert at the edges.
Durations are ns ints; ``parse_duration`` accepts the reference's Go-style
strings ('1s', '500ms', '1h30m', fm_dbsrc.go:946-953).
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
from pyspark.sql import Column

NS = 1
US = 1_000
MS = 1_000_000
SECOND = 1_000_000_000
MINUTE = 60 * SECOND
HOUR = 60 * MINUTE
DAY = 24 * HOUR

_DUR_RE = re.compile(r"(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h|d)")
_DUR_UNITS = {"ns": NS, "us": US, "µs": US, "ms": MS, "s": SECOND, "m": MINUTE, "h": HOUR, "d": DAY}


def parse_duration(s: str | int) -> int:
    """Go-style duration string -> ns ('1h30m', '500ms', '1s')."""
    if isinstance(s, int):
        return s
    s = s.strip()
    # Go ParseDuration: one optional leading sign applies to the WHOLE
    # duration ("-1h30m" = -(1h30m)); "", "+", "-" are all errors
    sign = 1
    if s and s[0] in "+-":
        sign, s = (-1 if s[0] == "-" else 1), s[1:]
    if not s:
        raise ValueError(f"bad duration: {s!r}")
    total, pos = 0, 0
    for m in _DUR_RE.finditer(s):
        if m.start() != pos:
            raise ValueError(f"bad duration: {s!r}")
        total += int(float(m.group(1)) * _DUR_UNITS[m.group(2)])
        pos = m.end()
    if pos != len(s):
        raise ValueError(f"bad duration: {s!r}")
    return sign * total


def _col(c: Column | str) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _div(c: Column, d: int) -> Column:
    """Exact floor-division of an epoch-ns long by a positive literal.

    ``floor(t / d)`` in double arithmetic is WRONG for epoch-ns: |t| > 2^53,
    so the cast to double alone perturbs t by up to ~256 ns and boundary
    timestamps land in the wrong bucket.  Stay integral: ``t - pmod(t, d)``
    is pure long arithmetic, and dividing that exact multiple via decimal
    keeps all 19 digits.
    """
    t = c.cast("long")
    m = t - F.pmod(t, F.lit(d))
    return (m.cast("decimal(38,0)") / F.lit(d)).cast("long")


def to_timestamp_ns(c: Column | str) -> Column:
    """epoch-ns long -> TimestampType (µs precision, for window/calendar ops)."""
    return F.timestamp_micros(_div(_col(c), 1000))


def from_timestamp(c: Column | str) -> Column:
    """TimestampType -> epoch-ns long."""
    return (F.unix_micros(_col(c)) * F.lit(1000)).cast("long")


def round_time(c: Column | str, duration: str | int) -> Column:
    """roundTime(ts, '1s') — floor to duration grid (fm_time.go:246-261)."""
    d = parse_duration(duration)
    t = _col(c).cast("long")
    return (t - F.pmod(t, F.lit(d))).cast("long")


def time_add(c: Column | str, duration: str | int) -> Column:
    """timeAdd(ts, dur) (fm_time.go:270-283)."""
    return (_col(c).cast("long") + F.lit(parse_duration(duration))).cast("long")


def _floordiv_ns(c, d: int):
    """Exact epoch-ns floor-division.  double `/` (and decimal `/`, which
    rounds at scale reduction) both floor …_999999999 into the NEXT unit;
    subtracting the pmod remainder first makes the division exact."""
    t = _col(c)
    exact = (t - F.pmod(t, F.lit(d))).cast("decimal(38,0)")
    return (exact / F.lit(d)).cast("long")


def time_unix(c):       return _floordiv_ns(c, SECOND)   # noqa: E704
def time_unix_milli(c): return _floordiv_ns(c, MS)       # noqa: E704
def time_unix_micro(c): return _floordiv_ns(c, US)       # noqa: E704
def time_unix_nano(c):  return _col(c).cast("long")      # noqa: E704


def str_time(c: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """strTime — format epoch-ns as string (fm_time.go:323-371); UTC."""
    return F.date_format(to_timestamp_ns(c), fmt)


def parse_time(c: Column | str, fmt: str = "yyyy-MM-dd HH:mm:ss") -> Column:
    """parseTime(str, fmt) -> epoch-ns (fm_time.go:373-392)."""
    return from_timestamp(F.to_timestamp(_col(c), fmt))


# component extractors (fm_time.go:54-245) over epoch-ns
def time_year(c):    return F.year(to_timestamp_ns(c))        # noqa: E704
def time_month(c):   return F.month(to_timestamp_ns(c))       # noqa: E704
def time_day(c):     return F.dayofmonth(to_timestamp_ns(c))  # noqa: E704
def time_hour(c):    return F.hour(to_timestamp_ns(c))        # noqa: E704
def time_minute(c):  return F.minute(to_timestamp_ns(c))      # noqa: E704
def time_second(c):  return F.second(to_timestamp_ns(c))      # noqa: E704
def time_weekday(c): return F.dayofweek(to_timestamp_ns(c)) - 1  # 0=Sunday like Go  # noqa: E704
def time_yearday(c): return F.dayofyear(to_timestamp_ns(c))   # Go YearDay, 1-based  # noqa: E704
def time_nanosecond(c): return F.pmod(_col(c), F.lit(SECOND)).cast("long")  # ns within second  # noqa: E704
def time_isoweek(c): return F.weekofyear(to_timestamp_ns(c))  # Spark weekofyear IS ISO-8601  # noqa: E704


def time_isoyear(c):
    """ISO-8601 week-numbering year (Go Time.ISOWeek year component): the
    calendar year of the Thursday in the value's ISO week."""
    d = F.to_date(to_timestamp_ns(c))
    iso_dow = F.pmod(F.dayofweek(d) + 5, 7) + 1          # Mon=1 … Sun=7
    return F.year(F.date_add(d, 4 - iso_dow))


# ---------------------------------------------------------------------------
# Named timeformats (mods/util/time_formats.go:15-47): the reference resolves
# sink timeformat('RFC3339') etc. to Go reference-time layouts.  We keep the
# identical name->layout registry and convert layouts to Java
# DateTimeFormatter patterns so formatting stays JVM-side (date_format).
# ---------------------------------------------------------------------------

TIMEFORMATS = {
    "-":           "2006-01-02 15:04:05.999",
    "DEFAULT":     "2006-01-02 15:04:05.999",
    "DEFAULT_MS":  "2006-01-02 15:04:05.999",
    "DEFAULT_US":  "2006-01-02 15:04:05.999999",
    "DEFAULT_NS":  "2006-01-02 15:04:05.999999999",
    "DEFAULT.MS":  "2006-01-02 15:04:05.000",
    "DEFAULT.US":  "2006-01-02 15:04:05.000000",
    "DEFAULT.NS":  "2006-01-02 15:04:05.000000000",
    "NUMERIC":     "01/02 03:04:05PM '06 -0700",
    "ANSIC":       "Mon Jan _2 15:04:05 2006",
    "UNIX":        "Mon Jan _2 15:04:05 MST 2006",
    "RUBY":        "Mon Jan 02 15:04:05 -0700 2006",
    "RFC822":      "02 Jan 06 15:04 MST",
    "RFC822Z":     "02 Jan 06 15:04 -0700",
    "RFC850":      "Monday, 02-Jan-06 15:04:05 MST",
    "RFC1123":     "Mon, 02 Jan 2006 15:04:05 MST",
    "RFC1123Z":    "Mon, 02 Jan 2006 15:04:05 -0700",
    "RFC3339":     "2006-01-02T15:04:05Z07:00",
    "RFC3339NANO": "2006-01-02T15:04:05.999999999Z07:00",
    "DATETIME":    "2006-01-02 15:04:05",
    "KITCHEN":     "3:04:05PM",
    "STAMP":       "Jan _2 15:04:05",
    "STAMPMILLI":  "Jan _2 15:04:05.000",
    "STAMPMICRO":  "Jan _2 15:04:05.000000",
    "STAMPNANO":   "Jan _2 15:04:05.000000000",
    "S_NS":        "05.999999999",
    "S_US":        "05.999999",
    "S_MS":        "05.999",
    "S.NS":        "05.000000000",
    "S.US":        "05.000000",
    "S.MS":        "05.000",
}


def get_timeformat(name: str) -> str:
    """util.GetTimeformat: resolve a format name to its Go layout; unknown
    names pass through as custom layouts (time_formats.go:7-12)."""
    return TIMEFORMATS.get(name.upper(), name)


#: Go layout token -> Java DateTimeFormatter token, longest-match-first.
#: ``_2`` (space-padded day) has no Java equivalent — approximated by ``d``.
_GO_TO_JAVA = [
    ("2006", "yyyy"), ("January", "MMMM"), ("Monday", "EEEE"),
    ("Jan", "MMM"), ("Mon", "EEE"), ("MST", "zzz"),
    ("Z07:00", "XXX"), ("-0700", "xx"),
    ("15", "HH"), ("01", "MM"), ("02", "dd"), ("03", "hh"),
    ("04", "mm"), ("05", "ss"), ("06", "yy"), ("_2", "d"),
    ("PM", "a"), ("3", "h"), ("4", "m"), ("5", "s"), ("2", "d"), ("1", "M"),
]

_FRAC_RE = re.compile(r"\.(9+|0+)$")


def go_layout_to_java(layout: str) -> tuple[str, int, bool]:
    """Go reference-time layout -> (java_pattern, frac_digits, frac_trim).

    The fractional-seconds suffix (`.999` trims trailing zeros, `.000` pads)
    is returned separately: Spark TimestampType is µs, so ns fractions are
    rendered exactly from the epoch-ns long instead (str_time_named)."""
    frac_digits, frac_trim = 0, False
    m = _FRAC_RE.search(layout)
    if m:
        frac_digits, frac_trim = len(m.group(1)), m.group(1)[0] == "9"
        layout = layout[:m.start()]
    out, i = [], 0
    while i < len(layout):
        for go, java in _GO_TO_JAVA:
            if layout.startswith(go, i):
                out.append(java)
                i += len(go)
                break
        else:
            ch = layout[i]
            if ch == "'":
                out.append("''")
            elif ch.isalpha():
                out.append(f"'{ch}'")
            else:
                out.append(ch)
            i += 1
    return "".join(out), frac_digits, frac_trim


def str_time_named(c: Column | str, name_or_layout: str,
                   tz: str | None = None) -> Column:
    """Format an epoch-ns long with a named reference timeformat
    ('RFC3339', 'Default_ns', ... or a raw Go layout).  The whole expression
    is JVM-side; ns fraction digits come from the long itself, so precision
    beyond TimestampType's µs is exact.  ``tz`` renders wall-clock in that
    zone (the reference's tz() codec option); zone tokens otherwise render
    for the session timezone (UTC in our engine convention)."""
    pattern, frac_digits, frac_trim = go_layout_to_java(get_timeformat(name_or_layout))
    t = _col(c).cast("long")
    ts = to_timestamp_ns(t)
    if tz and tz.upper() != "UTC":
        ts = F.from_utc_timestamp(ts, tz)
    base = F.date_format(ts, pattern)
    if not frac_digits:
        return base
    frac = F.substring(F.lpad(F.pmod(t, F.lit(SECOND)).cast("string"), 9, "0"),
                       1, frac_digits)
    if frac_trim:
        # Go's .999…: drop trailing zeros, and the dot when fraction is zero.
        trimmed = F.regexp_replace(frac, "0+$", "")
        return F.when(trimmed == "", base).otherwise(F.concat(base, F.lit("."), trimmed))
    return F.concat(base, F.lit("."), frac)


# ---------------------------------------------------------------------------
# Oracle-SQL / ANSI timeformat styles (fx: sqlTimeformat()/ansiTimeformat(),
# reference mods/util/time_formats.go style translations) -> Go layout, so
# str_time_named's single rendering path serves all three syntaxes.
# ---------------------------------------------------------------------------

_SQL_TOKENS = [
    ("YYYY", "2006"), ("HH24", "15"), ("HH12", "03"), ("HH", "15"),
    ("MI", "04"), ("MM", "01"), ("MON", "Jan"), ("DD", "02"), ("SS", "05"),
    ("AM", "PM"), ("PM", "PM"),
]

_ANSI_TOKENS = [
    ("yyyy", "2006"), ("mm", "01"), ("dd", "02"), ("hh", "15"),
    ("nn", "04"), ("ss", "05"),
]


def _style_to_layout(fmt: str, tokens, frac_char: str) -> str:
    frac = re.search(r"\.(%s+)$" % frac_char, fmt)
    frac_digits = len(frac.group(1)) if frac else 0
    if frac:
        fmt = fmt[:frac.start()]
    out, i = [], 0
    while i < len(fmt):
        for tok, go in tokens:
            if fmt.startswith(tok, i):
                out.append(go)
                i += len(tok)
                break
        else:
            out.append(fmt[i])
            i += 1
    layout = "".join(out)
    if frac_digits:
        layout += "." + "0" * frac_digits
    return layout


def sql_timeformat_to_layout(fmt: str) -> str:
    """'YYYY-MM-DD HH24:MI:SS.nnnnnn' -> Go layout (fraction digits = n count)."""
    return _style_to_layout(fmt, _SQL_TOKENS, "n")


def ansi_timeformat_to_layout(fmt: str) -> str:
    """'yyyy-mm-dd hh:nn:ss.ffffff' -> Go layout."""
    return _style_to_layout(fmt, _ANSI_TOKENS, "f")


# ---------------------------------------------------------------------------
# Python-scalar rendering of Go layouts (the TQL front-end's strTime() when
# every argument is a literal — e.g. inside FAKE()/SET() expressions where
# there is no DataFrame to attach a Column to).  Mirrors str_time_named.
# ---------------------------------------------------------------------------

def resolve_tz(name: str | None) -> str:
    """Go time.LoadLocation name -> IANA zone usable by Spark/zoneinfo.
    'local' (any case) resolves to $TZ (UTC when unset — the engine's
    convention); unknown zones raise like the reference's tz()
    (func_test.go: 'unknown time zone wrong/place')."""
    if not name or name.upper() == "UTC":
        return "UTC"
    if name.lower() == "local":
        import os
        return os.environ.get("TZ") or "UTC"
    import zoneinfo
    try:
        zoneinfo.ZoneInfo(name)
    except (zoneinfo.ZoneInfoNotFoundError, ValueError) as ex:
        raise ValueError(f"unknown time zone {name}") from ex
    return name


def strtime_py(ns: int, name_or_layout: str, tz: str | None = None) -> str:
    """Format an epoch-ns int with a named timeformat / raw Go layout,
    entirely in Python (scalar twin of str_time_named; fm_time.go:323-371)."""
    import datetime as _dt
    import zoneinfo

    layout = get_timeformat(name_or_layout)
    if layout in ("s", "ms", "us", "ns"):
        return str(ns // {"s": SECOND, "ms": MS, "us": US, "ns": 1}[layout])
    frac_digits, frac_trim = 0, False
    m = _FRAC_RE.search(layout)
    if m:
        frac_digits, frac_trim = len(m.group(1)), m.group(1)[0] == "9"
        layout = layout[:m.start()]
    zone = zoneinfo.ZoneInfo(resolve_tz(tz))
    dt = _dt.datetime.fromtimestamp(ns // SECOND, tz=zone)
    off = dt.utcoffset() or _dt.timedelta(0)
    off_min = int(off.total_seconds()) // 60
    sign, off_min = ("-", -off_min) if off_min < 0 else ("+", off_min)
    tokens = [
        ("2006", f"{dt.year:04d}"), ("January", dt.strftime("%B")),
        ("Monday", dt.strftime("%A")), ("Jan", dt.strftime("%b")),
        ("Mon", dt.strftime("%a")), ("MST", dt.tzname() or "UTC"),
        ("Z07:00", "Z" if not off else f"{sign}{off_min // 60:02d}:{off_min % 60:02d}"),
        ("-0700", f"{sign}{off_min // 60:02d}{off_min % 60:02d}"),
        ("15", f"{dt.hour:02d}"), ("01", f"{dt.month:02d}"),
        ("02", f"{dt.day:02d}"), ("03", f"{(dt.hour % 12) or 12:02d}"),
        ("04", f"{dt.minute:02d}"), ("05", f"{dt.second:02d}"),
        ("06", f"{dt.year % 100:02d}"), ("_2", f"{dt.day:2d}"),
        ("PM", "PM" if dt.hour >= 12 else "AM"),
        ("3", str((dt.hour % 12) or 12)), ("4", str(dt.minute)),
        ("5", str(dt.second)), ("2", str(dt.day)), ("1", str(dt.month)),
    ]
    out, i = [], 0
    while i < len(layout):
        for go, rendered in tokens:
            if layout.startswith(go, i):
                out.append(rendered)
                i += len(go)
                break
        else:
            out.append(layout[i])
            i += 1
    base = "".join(out)
    if not frac_digits:
        return base
    frac = f"{ns % SECOND:09d}"[:frac_digits]
    if frac_trim:
        frac = frac.rstrip("0")
        return base if not frac else f"{base}.{frac}"
    return f"{base}.{frac}"


# Go layout tokens -> strftime/strptime, longest-match-first (the scalar
# twin of go_layout_to_java for PARSING literal arguments)
_GO_TO_STRPTIME = [
    ("2006", "%Y"), ("January", "%B"), ("Monday", "%A"), ("Jan", "%b"),
    ("Mon", "%a"), ("MST", "%Z"), ("Z07:00", "%z"), ("-0700", "%z"),
    ("15", "%H"), ("01", "%m"), ("02", "%d"), ("03", "%I"), ("04", "%M"),
    ("05", "%S"), ("06", "%y"), ("PM", "%p"),
]


def parse_time_named(c: Column | str, name_or_layout: str,
                     tz: str | None = None) -> Column:
    """parseTime(str, 'DEFAULT'|layout[, tz]) -> epoch-ns long: the named
    reference format resolves to its Go layout, converts to a Java
    pattern, parses as wall clock in ``tz`` (UTC default) and converts to
    the epoch (fm_time.go fmParseTime; func_test.go TestParseTime)."""
    layout = get_timeformat(name_or_layout)
    pattern, frac_digits, frac_trim = go_layout_to_java(layout)
    if frac_digits:
        # Go's .999… layouts mean an OPTIONAL fraction when parsing —
        # Java's optional section [] expresses that; .000… is mandatory
        frac = "." + "S" * frac_digits
        pattern += f"[{frac}]" if frac_trim else frac
    ts = F.to_timestamp(_col(c), pattern)
    if tz and resolve_tz(tz) != "UTC":
        ts = F.to_utc_timestamp(ts, resolve_tz(tz))
    return from_timestamp(ts)


def parsetime_py(text: str, name_or_layout: str, tz: str | None = None) -> int:
    """Scalar twin of parse_time_named for literal arguments."""
    import datetime as _dt
    import zoneinfo

    layout = get_timeformat(name_or_layout)
    frac_digits = 0
    m = _FRAC_RE.search(layout)
    if m:
        frac_digits = len(m.group(1))
        layout = layout[:m.start()]
    out, i = [], 0
    while i < len(layout):
        for go, fmt in _GO_TO_STRPTIME:
            if layout.startswith(go, i):
                out.append(fmt)
                i += len(go)
                break
        else:
            out.append(layout[i])
            i += 1
    text_main, frac_ns = text, 0
    if frac_digits and "." in text:
        text_main, _, frac = text.partition(".")
        frac = (frac + "000000000")[:9]
        frac_ns = int(frac)
    dt = _dt.datetime.strptime(text_main, "".join(out))
    if dt.tzinfo is None:
        dt = dt.replace(tzinfo=zoneinfo.ZoneInfo(resolve_tz(tz)))
    epoch = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return int((dt - epoch).total_seconds()) * SECOND \
        + dt.microsecond * 1000 + frac_ns
