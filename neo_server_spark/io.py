"""TESTDATA loaders and tag/log table layout helpers.

Data model (SURVEY §1): machbase's core abstraction is the TAG table
``(name VARCHAR PK, time DATETIME-ns BASETIME, value DOUBLE SUMMARIZED)``
(reference: spi/testsuite/tagtable.go:133-139).  Spark mapping: a parquet/Delta
table partitioned/bucketed by ``name`` plus a coarse time-bucket column; the
canonical time representation is epoch-ns LongType with derived timestamps for
window operations.

The driver's TESTDATA (TPC-H-ish star schema + ``events``/``documents``/
``embeddings``) is the correctness substrate; ``events`` doubles as the tag
table: ``event_type`` -> tag name, ``ts`` (epoch ns) -> basetime, ``value``.
"""

from __future__ import annotations

import contextlib
import math
import os
import re
import uuid
from collections.abc import Sequence
from datetime import date

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from neo_server_spark.session import ensure_engine_conf, session_catalog

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _normalize_basetime(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Surface timestamp-typed basetime columns as LongType epoch-ns.

    The engine's canonical time representation is epoch-nanoseconds int64
    (machbase DATETIME semantics, spi/machsvr/machsvr.go:901-917).  TESTDATA
    has shipped ``events.ts`` both as parquet TIMESTAMP(NANOS) (read as long
    via the nanosAsLong conf) and as TIMESTAMP(MICROS) (read as
    TIMESTAMP/TIMESTAMP_NTZ) — accept every physical encoding and converge on
    epoch-ns long.  NTZ→LTZ cast is exact under the UTC session timezone that
    ``ensure_engine_conf`` pins, matching DuckDB's ``epoch_ns(ts)`` on the
    same file.
    """
    from pyspark.sql import types as T

    fields = {f.name: f.dataType for f in df.schema.fields}
    for c in cols:
        dt = fields.get(c)
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            df = df.withColumn(
                c, F.unix_micros(F.col(c).cast("timestamp_ltz")) * F.lit(1000)
            )
    return df


#: per-table basetime columns to normalize to epoch-ns long
_BASETIME_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one TESTDATA parquet table.

    ``events.ts`` is surfaced as LongType epoch-ns (the engine's canonical
    basetime) whatever the parquet physical type — see ``_normalize_basetime``.

    The path → DataFrame handle is memoized per session (``SessionCatalog``):
    repeated queries in one session reuse the resolved relation instead of
    re-reading footers.
    """
    frames = session_catalog(spark).frames
    path = os.path.join(sf_dir, f"{name}.parquet")
    if path not in frames:
        ensure_engine_conf(spark)
        df = spark.read.parquet(path)
        frames[path] = _normalize_basetime(df, _BASETIME_COLS.get(name, ()))
    return frames[path]


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register every TESTDATA table as a temp view for spark.sql() queries.

    This is the one catalog call every SQL read goes through.  The
    session's ``SessionCatalog`` remembers which ``sf_dir`` each view
    shows, so once a session holds that directory's views the call makes
    no py4j call at all; a different ``sf_dir`` on the same session
    registers its own views over them.  A DDL table with a TESTDATA name
    keeps its view (it is never replaced here); ``ddl.drop_table`` makes
    the registry forget the name, so the next call restores the TESTDATA
    view.
    """
    from neo_server_spark.sqlx import ddl

    cat = session_catalog(spark)
    with cat.lock:
        for name in TABLES:
            view = prefix + name
            if cat.views.get(view.lower()) == sf_dir or ddl.has_table(view):
                continue
            load_table(spark, sf_dir, name).createOrReplaceTempView(view)
            cat.views[view.lower()] = sf_dir


def scan_time_range(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    time_col: str,
    from_ns: int | None = None,
    until_ns: int | None = None,
    until_inclusive: bool = False,
) -> DataFrame:
    """Time-range scan with guaranteed parquet predicate pushdown.

    The reference treats the time range as part of the scan API
    (SQL_SELECT's between(), mods/tql/fm_dbsrc.go) — routing the range to
    the source is what makes a 100 TB time-slice read only its row groups.
    When the physical column is a timestamp, a filter on the normalized
    epoch-ns long is an expression over the column and parquet cannot push
    it, so this applies a *coarse* bound on the RAW column first (floor/ceil
    to µs — pushes down, prunes row groups via min/max stats) and then the
    exact bound on the canonical long (cheap, rows already pruned).
    """
    from pyspark.sql import types as T

    ensure_engine_conf(spark)  # UTC session tz + nanosAsLong on foreign sessions
    raw = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    phys = {f.name: f.dataType for f in raw.schema.fields}[time_col]
    is_ts = isinstance(phys, (T.TimestampType, T.TimestampNTZType))
    if is_ts:
        if from_ns is not None:
            raw = raw.filter(
                F.col(time_col) >= F.timestamp_micros(F.lit(from_ns // 1000)))
        if until_ns is not None:  # ceil to µs so boundary rows survive
            raw = raw.filter(
                F.col(time_col) <= F.timestamp_micros(F.lit(-(-until_ns // 1000))))
    df = _normalize_basetime(raw, (time_col,)) if is_ts else raw
    if from_ns is not None:
        df = df.filter(F.col(time_col) >= F.lit(from_ns))
    if until_ns is not None:
        df = df.filter(
            F.col(time_col) <= F.lit(until_ns) if until_inclusive
            else F.col(time_col) < F.lit(until_ns))
    return df


def events_as_tag(
    spark: SparkSession,
    sf_dir: str,
    from_ns: int | None = None,
    until_ns: int | None = None,
    until_inclusive: bool = False,
) -> DataFrame:
    """Present ``events`` in the canonical tag-table shape (name, time, value).

    Extra columns ride along like a wide tag table's extra columns
    (reference DDL with extra cols: spi/testsuite/tagtable.go:237-244).
    Pass ``from_ns``/``until_ns`` to get a pushdown-guaranteed time-range
    scan (see ``scan_time_range``).  The unranged frame is memoized per
    session, so callers that key on it (the lake views) see one frame.
    """
    if from_ns is None and until_ns is None:
        memo = session_catalog(spark).tag_frames
        if sf_dir not in memo:
            memo[sf_dir] = _tag_shape(load_table(spark, sf_dir, "events"))
        return memo[sf_dir]
    return _tag_shape(scan_time_range(spark, sf_dir, "events", "ts",
                                      from_ns, until_ns, until_inclusive))


def _tag_shape(ev: DataFrame) -> DataFrame:
    return ev.select(
        F.col("event_type").alias("name"),
        F.col("ts").alias("time"),
        F.col("value"),
        F.col("event_id"),
        F.col("user_id"),
        F.col("props"),
    )


def write_tag_table(
    df: DataFrame,
    path: str,
    name_col: str = "name",
    time_col: str = "time",
    name_buckets: int | None = None,
    mode: str = "append",
    write_salt: int = 8,
    cluster: bool = True,
) -> None:
    """Persist a DataFrame in the scale-ready tag-table layout.

    Layout = parquet partitioned by day (+ optional name-hash bucket):
    - partition pruning serves both access patterns the reference optimizes
      for: time-range scans (day predicate) and per-tag scans (bucket
      predicate), mirroring the engine's TAG_PARTITION_COUNT partitioned tag
      storage (reference: mods/server/machbase_template.conf:520);
    - ``name_buckets`` bounds directory count under high-cardinality tag sets
      (hash of name, never the raw name — raw names at 100 TB would create
      millions of dirs).  SIZING RULE: pick buckets so a (day, bucket) cell
      holds ~128 MB-1 GB; at 100 TB/year that's ~16-64 buckets, while small
      feeds should leave it None — over-bucketing turns the write into
      tiny-file commits (measured 7x slowdown at bench scale);
    - rows are pre-shuffled onto their output partitions so each task writes
      whole files instead of every task appending a sliver to every
      directory.  With AQE enabled (the default) the shuffle is an
      adaptive REBALANCE by the partition columns: runtime statistics
      split an oversized cell across however many writer tasks its bytes
      need and coalesce tiny cells — no sizing knob, uniform
      ~advisory-size files, immune to the static-salt hash-collision skew
      (COVERAGE.md r11).  ``write_salt`` only governs the non-AQE
      fallback (static salt over 512 hash bins); SIZING RULE there:
      salt ~= executor_cores / distinct_cells.
    """
    out = df.withColumn(
        "_day", F.date_format(F.timestamp_micros(
            ((F.col(time_col) - F.pmod(F.col(time_col), F.lit(1000)))
             .cast("decimal(38,0)") / F.lit(1000)).cast("long")), "yyyyMMdd")
    )
    parts = ["_day"]
    if name_buckets:
        out = out.withColumn("_nb", F.pmod(F.xxhash64(F.col(name_col)), F.lit(name_buckets)).cast("int"))
        parts.append("_nb")
    shuffle_keys = [F.col(c) for c in parts]
    aqe = str(df.sparkSession.conf.get(
        "spark.sql.adaptive.enabled", "true")).lower() == "true"
    if aqe:
        # AQE REBALANCE by the partition columns: runtime stats SPLIT an
        # oversized (day[,bucket]) cell across as many writer tasks as
        # its bytes need and COALESCE tiny cells together — the wave
        # width tracks DATA SIZE instead of any static write_salt guess.
        # This also kills the hash-collision skew a static salt is
        # exposed to (two cells landing on one writer task ran the whole
        # wave 1.7x slower, deterministically per day value — COVERAGE.md
        # r11): a skewed bin is simply split.  Measured: a 100M-row
        # single-day batch writes 2.4x faster than the best salted plan
        # (32 uniform ~advisory-size files vs 6 salt files), and a
        # 1M-row 5-day batch loses nothing (one small task per day).
        out = out.hint("rebalance", *shuffle_keys)
    elif write_salt > 1:
        # non-AQE fallback: static salt, spread over many hash bins so
        # the few distinct (day[,bucket], salt) tuples rarely collide
        # (birthday bound: 12 keys in 512 bins p~0.12 vs p~0.88 in 32);
        # non-empty tasks stay ~cells*salt, empty partitions are free
        shuffle_keys.append(F.pmod(F.xxhash64(F.col(time_col)), F.lit(write_salt)))
        out = out.repartition(512, *shuffle_keys)
    else:
        out = out.repartition(*shuffle_keys)
    if cluster:
        # ZORDER-lite: (name, time)-sorted rows give parquet row groups tight
        # min/max stats, so tag and time-range predicates skip whole row
        # groups at scan time — the reference's per-tag partitioned storage
        # gets the same effect structurally (machbase_template.conf:520).
        # The partition columns lead: the partitioned write needs its rows
        # ordered by them, and a sort that already meets that requirement
        # is kept, where one by (name, time) alone is replaced by the
        # writer's own sort on the partition columns.
        out = out.sortWithinPartitions(*parts, name_col, time_col)
    out.write.partitionBy(*parts).mode(mode).parquet(path)


# ---- driver-side appender for rows the server already holds -------------

_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1
_DAY_NS = 86_400 * 10**9
_EPOCH_ORDINAL = 719_163                 # date(1970, 1, 1).toordinal()
#: Spark's partition value for a null ``_day`` (a null ``time``)
_NULL_DAY = "__HIVE_DEFAULT_PARTITION__"
#: Python scalar -> the Spark type ``createDataFrame`` infers for it
_INFERRED = {bool: "BooleanType", int: "LongType", float: "DoubleType",
             str: "StringType"}
#: what java.lang.String.trim() strips; UTF8String.toLongExact also strips DEL
_JAVA_WS = "".join(map(chr, range(33)))
_LONG_TEXT = re.compile(r"[+-]?[0-9]+")
#: java.lang.Double.parseDouble's grammar (after trim)
_DOUBLE_TEXT = re.compile(
    r"[+-]?(?:NaN|Infinity|(?:(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"
    r"|0[xX](?:[0-9a-fA-F]+\.?|[0-9a-fA-F]*\.[0-9a-fA-F]+)[pP][+-]?[0-9]+)"
    r"[fFdD]?)")
#: Cast.processFloatingPointSpecialLiterals, tried when parseDouble fails
_DOUBLE_WORDS = {"inf": math.inf, "+inf": math.inf, "infinity": math.inf,
                 "+infinity": math.inf, "-inf": -math.inf,
                 "-infinity": -math.inf, "nan": math.nan}


def _cast_error(v, src: str, dst: str) -> ValueError:
    return ValueError(
        f"[CAST_INVALID_INPUT] The value '{v}' of the type \"{src}\" cannot "
        f"be cast to \"{dst}\" because it is malformed. Correct the value as "
        f"per the syntax, or change its target type. Use `try_cast` to "
        f"tolerate malformed input and return NULL instead. SQLSTATE: 22018")


def _to_long(v, kind: type):
    """Spark's ANSI ``CAST(v AS BIGINT)`` of a value inferred as ``kind``."""
    if v is None or kind is int:
        return v
    if kind is str:
        s = v.strip(_JAVA_WS + "\x7f")
        if _LONG_TEXT.fullmatch(s) and _LONG_MIN <= int(s) <= _LONG_MAX:
            return int(s)
        raise _cast_error(v, "STRING", "BIGINT")
    if kind is float:
        if math.isfinite(v) and math.floor(v) <= 2**63 and \
                math.ceil(v) >= -2**63:
            return min(max(int(v), _LONG_MIN), _LONG_MAX)
        raise ValueError(
            f"[CAST_OVERFLOW] The value {v!r} of the type \"DOUBLE\" cannot "
            f"be cast to \"BIGINT\" due to an overflow. Use `try_cast` to "
            f"tolerate overflow and return NULL instead. SQLSTATE: 22003")
    return int(v)                        # bool


def _to_double(v, kind: type):
    """Spark's ANSI ``CAST(v AS DOUBLE)`` of a value inferred as ``kind``."""
    if v is None or kind is float:
        return v
    if kind is not str:
        return float(v)                  # long, bool
    s = v.strip(_JAVA_WS)
    if _DOUBLE_TEXT.fullmatch(s):
        s = s[:-1] if s[-1] in "fFdD" else s
        if "x" not in s and "X" not in s:
            return float(s)
        try:
            return float.fromhex(s)
        except OverflowError:
            return -math.inf if s.startswith("-") else math.inf
    w = _DOUBLE_WORDS.get(s.lower())
    if w is None:
        raise _cast_error(v, "STRING", "DOUBLE")
    return w


def _inferred_kind(values) -> type | None:
    """The Python type standing for the column type ``createDataFrame``
    infers from ``values`` (pyspark.sql.types._merge_type, row by row):
    null fits any type, a string absorbs any other scalar, two other
    scalar types conflict.  None when every value is null."""
    from pyspark.errors import PySparkTypeError
    kind = None
    for v in values:
        t = type(v)
        if v is None or t is kind:
            continue
        if t not in _INFERRED:
            raise TypeError(f"{t.__name__} values cannot be appended to a "
                            f"tag table")
        if kind is None:
            kind = t
        elif str in (kind, t):
            kind = str
        else:
            raise PySparkTypeError(
                errorClass="CANNOT_MERGE_TYPE",
                messageParameters={"data_type1": _INFERRED[kind],
                                   "data_type2": _INFERRED[t]})
    return kind


def _conform(values: list, kind: type) -> list:
    """Values as ``createDataFrame`` stores them in the inferred type: a
    string column holds other scalars as ``str`` renders them (booleans
    in lower case), a long column nulls what overflows 64 bits."""
    if kind is str:
        return [v if v is None or type(v) is str else
                ("true" if v else "false") if type(v) is bool else str(v)
                for v in values]
    if kind is int:
        return [v if v is None or _LONG_MIN <= v <= _LONG_MAX else None
                for v in values]
    return values


def _day_dir(t: int | None, memo: dict) -> str:
    """``_day=yyyyMMdd`` of epoch-ns ``t`` as a UTC date, the value
    ``write_tag_table``'s date_format(timestamp_micros(t // 1000)) gives."""
    if t is None:
        return "_day=" + _NULL_DAY
    if t - t % 1000 < _LONG_MIN:         # the ANSI subtraction overflows
        raise ArithmeticError(
            "[ARITHMETIC_OVERFLOW] long overflow. Use 'try_subtract' to "
            "tolerate overflow and return NULL instead. SQLSTATE: 22003")
    dn = t // _DAY_NS
    s = memo.get(dn)
    if s is None:
        d = date.fromordinal(_EPOCH_ORDINAL + dn)
        s = memo[dn] = f"_day={d.year:04d}{d.month:02d}{d.day:02d}"
    return s


def append_tag_rows(spark: SparkSession, path: str, cols: Sequence[str],
                    rows: Sequence[Sequence]) -> int:
    """Append rows held in driver memory to the tag table at ``path``
    without a Spark job; returns the number of rows written.

    The result is what ``createDataFrame(rows, cols)`` with ``time`` cast
    to long and ``value`` to double, written by ``write_tag_table``, would
    give: the same inferred column types, the same ANSI cast results and
    errors, one snappy parquet file per ``_day`` directory the batch
    touches, with rows sorted by (name, time), nulls first.  Rows longer
    than ``cols`` get ``_<n>`` columns as ``createDataFrame`` names them.

    Every file is written under a hidden name (Spark and DuckDB listings
    skip a leading ``.``) and renamed into place only once all are
    written, so a rejected or failed batch leaves no file behind and a
    concurrent reader never sees a partial file.  Concurrent appends to
    one table touch disjoint file names.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import PySparkValueError

    if not rows:
        return 0
    width = max(len(r) for r in rows)
    if width < len(cols) or any(len(r) != width for r in rows):
        short = min(len(r) for r in rows)
        raise ValueError(
            f"[STRUCT_ARRAY_LENGTH_MISMATCH] Input row doesn't have expected "
            f"number of values required by the schema. "
            f"{max(width, len(cols))} fields are required while {short} "
            f"values are provided. SQLSTATE: 2201E")
    names = list(cols) + [f"_{i}" for i in range(len(cols) + 1, width + 1)]
    seen: set[str] = set()
    for c in names:
        if c.lower() in seen:
            raise ValueError(f"[COLUMN_ALREADY_EXISTS] The column `{c}` "
                             f"already exists. SQLSTATE: 42711")
        seen.add(c.lower())
    columns = [list(c) for c in zip(*rows)]
    kinds = [_inferred_kind(c) for c in columns]
    if None in kinds:
        raise PySparkValueError(errorClass="CANNOT_DETERMINE_TYPE",
                                messageParameters={})
    columns = [_conform(c, k) for c, k in zip(columns, kinds)]
    ti, vi, ni = names.index("time"), names.index("value"), \
        names.index("name")
    columns[ti] = [_to_long(v, kinds[ti]) for v in columns[ti]]
    columns[vi] = [_to_double(v, kinds[vi]) for v in columns[vi]]
    kinds[ti], kinds[vi] = int, float

    arrow = {str: pa.string(), int: pa.int64(), float: pa.float64(),
             bool: pa.bool_()}
    # write_tag_table's withColumn("_day") replaces a user column of that
    # name, and partitionBy then leaves it out of the files
    keep = [j for j, c in enumerate(names) if c.lower() != "_day"]
    table = pa.table([pa.array(columns[j], arrow[kinds[j]]) for j in keep],
                     names=[names[j] for j in keep])
    memo: dict = {}
    by_day: dict[str, list[int]] = {}
    for i, t in enumerate(columns[ti]):
        by_day.setdefault(_day_dir(t, memo), []).append(i)
    name_v, time_v = columns[ni], columns[ti]
    if kinds[ni] is float:               # Spark orders NaN above all numbers
        def name_key(v):
            return (v is not None, v != v, 0.0 if v != v else v)
    else:
        def name_key(v):
            return (v is not None, v)

    def row_key(i):
        return name_key(name_v[i]), (time_v[i] is not None, time_v[i])

    staged: list[tuple[str, str]] = []
    try:
        for day, idx in by_day.items():
            idx.sort(key=row_key)
            d = os.path.join(path, day)
            os.makedirs(d, exist_ok=True)
            uid = uuid.uuid4()
            staged.append((os.path.join(d, f".{uid}.tmp"),
                           os.path.join(d, f"part-{uid}.snappy.parquet")))
            pq.write_table(table.take(idx), staged[-1][0],
                           compression="snappy")
    except BaseException:
        for tmp, _final in staged:
            with contextlib.suppress(FileNotFoundError):
                os.remove(tmp)
        raise
    for tmp, final in staged:
        os.replace(tmp, final)
    spark.catalog.refreshByPath(path)
    return len(rows)


def compact_tag_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    partitions: Sequence[str] | None = None,
) -> int:
    """Small-file compaction for the tag-table layout (the engine's analogue
    is its LSM index merge, spi/show.go ShowLsm; Delta's is OPTIMIZE).

    Streaming appends land one file per (micro-batch x salt) — fine for a
    day, pathological after a month.  Rewrites each listed day partition
    (default: all) into ~``target_file_bytes`` files and atomically swaps the
    directory.  Returns the number of partitions rewritten.

    At cluster scale run this per closed day partition (yesterday, not
    today): compaction of a cold partition races with nothing.
    """
    import math
    import os
    import shutil

    days = partitions
    if days is None:
        days = [d for d in os.listdir(path) if d.startswith("_day=")]
    done = 0
    for day in days:
        part_dir = os.path.join(path, day)
        size = sum(
            os.path.getsize(os.path.join(part_dir, f))
            for f in os.listdir(part_dir)
            if f.endswith(".parquet")
        )
        n_files = max(1, math.ceil(size / target_file_bytes))
        df = spark.read.parquet(part_dir)
        tmp = part_dir + "._compact"
        # coalesce, NOT rebalance: a same-partition rewrite needs no
        # shuffle at all — coalesce is narrow (10 writer tasks each
        # reading their share of splits), while an AQE rebalance pays a
        # full shuffle of the partition's bytes and emits advisory-size
        # (small) files.  Measured on a 2.4 GB day: coalesce 13.1 s /
        # 10x250 MB files vs rebalance 32.7 s / 64x40 MB files.
        df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(part_dir)
        os.rename(tmp, part_dir)
        done += 1
    return done


def read_tag_table(spark: SparkSession, path: str) -> DataFrame:
    ensure_engine_conf(spark)
    return spark.read.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    key: str | Sequence[str] = "name",
    sort_cols: Sequence[str] = ("time",),
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed catalog table for co-located joins — the Spark analogue
    of the engine's hash-partitioned tag storage (TAG_PARTITION_COUNT,
    reference: mods/server/machbase_template.conf:520).

    Two tables bucketed on the same key with the same bucket count satisfy
    each other's join distribution, so the join plans with NO shuffle on
    either side (tests/test_plans.py pins this).  At 100 TB this converts the
    biggest recurring shuffle — fact ⨝ fact on tag/user keys — into a
    map-side merge of pre-sorted buckets; ``sort_cols`` additionally removes
    the join-time sort for merge joins on the bucket key.

    SIZING RULE: buckets ≈ table_bytes / 1 GB rounded to a power of two,
    fixed for the table's lifetime (changing it means a rewrite; both join
    sides must agree).
    """
    keys = [key] if isinstance(key, str) else list(key)
    w = df.write.format("parquet").mode(mode).bucketBy(buckets, *keys)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def zorder_key(df: DataFrame, cols: Sequence[str], bits: int = 16) -> DataFrame:
    """Append a ``__z`` Morton (Z-order) key interleaving the bit-scaled
    ranks of ``cols`` — the multi-dimensional clustering key behind
    data-skipping layouts (Delta/Iceberg OPTIMIZE ZORDER): rows close in
    EVERY key dimension land in the same parquet row groups, so min/max
    pruning works for conjunctive range predicates on any of the columns,
    not just the leading sort key.

    Each column is normalized to [0, 2^bits) from its global min/max (one
    tiny agg, broadcast back); bit interleaving is a JVM fold over the bit
    positions.  Nulls sort first (rank 0).

    ``len(cols) * bits`` is capped at 63: position 63 is the long's sign
    bit (it would invert the sort order) and JVM shift counts wrap mod 64
    beyond it (silently colliding keys), so ``bits`` auto-reduces to the
    widest per-column width that fits — more useful than refusing, since
    the high interleaved bits dominate clustering quality anyway.
    """
    import pyspark.sql.functions as F

    if not cols:
        raise ValueError("zorder_key needs at least one column")
    max_bits = 63 // len(cols)
    if max_bits < 1:
        raise ValueError(f"too many z-order columns ({len(cols)}): "
                         "63 usable key bits")
    bits = min(int(bits), max_bits)

    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__mx_{c}")]
    rng = df.agg(*aggs)
    out = df.join(F.broadcast(rng))
    scaled = []
    top = (1 << bits) - 1
    for c in cols:
        mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
        s = F.when(mx > mn,
                   F.least(F.lit(top), F.floor(
                       (F.col(c).cast("double") - mn) / (mx - mn)
                       * (1 << bits)).cast("long"))
                   ).otherwise(F.lit(0))
        scaled.append(F.coalesce(s, F.lit(0)))
    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), b * n + i)
    drop = [f"__mn_{c}" for c in cols] + [f"__mx_{c}" for c in cols]
    return out.withColumn("__z", z).drop(*drop)


def write_zordered(df: DataFrame, path: str, cols: Sequence[str],
                   bits: int = 16, n_files: int = 16,
                   mode: str = "overwrite") -> None:
    """Write ``df`` as a Z-order-clustered parquet layout: range-partition
    + sort on the Morton key of ``cols``, one file per range so parquet
    footer (row-group min/max) pruning skips files for conjunctive range
    predicates on ANY of the clustered columns.

    The 100 TB point: a time-sorted layout only skips on time; queries
    shaped ``WHERE user BETWEEN .. AND ts BETWEEN ..`` scan everything
    else.  Z-ordering bounds the number of files any axis-aligned box
    touches (tests/test_plans.py measures the file-touch reduction vs a
    linear layout on the same data).
    """
    keyed = zorder_key(df, cols, bits)
    (keyed.repartitionByRange(n_files, "__z")
     .sortWithinPartitions("__z")
     .drop("__z")
     .write.mode(mode).parquet(path))
