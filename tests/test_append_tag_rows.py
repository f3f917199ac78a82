"""``io.append_tag_rows`` against the Spark path it stands in for.

The oracle is what the server ran before: ``createDataFrame(rows, cols)``,
``time`` cast to long and ``value`` to double under ANSI, written by
``io.write_tag_table``.  Each row set goes through both paths into two
directories; the tables read back with Spark must hold the same schema,
the same ``_day`` directories and the same rows, or both paths must
raise.  Rows are compared per day as multisets (ties in (name, time) may
land in either order); the appender's (name, time) order is asserted on
its own files, and ``write_tag_table``'s in its own test.
"""

import glob
import os

import pyarrow.parquet as pq
import pytest

NTV = ["name", "time", "value"]
T0 = 1_700_000_000_000_000_000          # 2023-11-14T22:13:20Z in ns
DAY = 86_400 * 10**9

CASES = {
    # CSV bodies: every cell a string
    "multi_day_and_pre_1970": (NTV, [
        ("b", str(T0), "1.5"), ("a", str(T0 + DAY), "2"),
        ("a", str(T0 + 1), "-3.25"), ("a", str(T0 + DAY), "2.5"),
        ("c", "-1", "4"), ("c", "-999", "5"), ("c", "-1000", "6"),
        ("c", "-1001", "6.5"), ("d", str(-DAY), "7"),
        ("d", str(-DAY - 1), "8"), ("e", "-2208988800000000000", "9"),
        ("", "0", "0")]),
    "cast_accepted": (NTV, [
        ("a", " 12 ", "1e3"), ("a", "+7", "NaN"), ("b", "\t3\n", "inf"),
        ("b", "4", "Infinity"), ("c", "5", " -2.5 "), ("c", "6", "1.5d"),
        ("d", "7", "0x1p3"), ("d", "8", "-Infinity"), ("e", "-0", "+NaN"),
        ("e", "9223372036854775807", ".5"),
        ("f", "-9223372036854775000", "5."), ("f", "\x0110\x7f", "1E+3")]),
    # write_tag_table's day key subtracts time % 1000 and overflows here
    "reject_time_below_day_key_range": (NTV, [
        ("a", "1", "1"), ("a", "-9223372036854775808", "2")]),
    **{f"reject_time_{i}": (NTV, [("a", "1", "1"), ("a", s, "2")])
       for i, s in enumerate(["1.5", "", "abc", "1_000",
                              "9223372036854775808", "12.0", "0x10", "1e3"])},
    **{f"reject_value_{i}": (NTV, [("a", "1", "1"), ("a", "2", s)])
       for i, s in enumerate(["1_000", "", "abc", "+nan", "0x10", "1e",
                              "\x7f3"])},
    # JSON / NDJSON bodies: typed values
    "json_nulls": (NTV, [("a", T0, 1.5), ("b", None, 2.5), (None, 5, None),
                         ("a", 3, -0.0)]),
    "json_int_value": (NTV, [("a", 1, 2), ("a", 2, -3)]),
    "json_bools": (NTV, [("a", True, False), ("b", False, True)]),
    "json_float_time": (NTV, [("a", 1.9, 1.0), ("b", -1.9, 2.0),
                              ("c", 1.7e18, 3.0),
                              ("d", 9.223372036854775807e18, 4.0)]),
    "reject_json_float_time_nan": (NTV, [("a", 1.0, 1.0),
                                         ("b", float("nan"), 1.0)]),
    "reject_json_float_time_inf": (NTV, [("a", float("inf"), 1.0)]),
    "reject_json_float_time_overflow": (NTV, [("a", 9.3e18, 1.0)]),
    "reject_json_int_and_float": (NTV, [("a", 1, 1.0), ("b", 2, 2)]),
    "reject_json_bool_and_int": (NTV, [("a", True, 1.0), ("b", 2, 2.0)]),
    "reject_json_all_null_time": (NTV, [("a", None, 1.0),
                                        ("b", None, 2.0)]),
    "json_str_absorbs": (NTV, [("a", "5", 1.0), (3, 6, "2.5")]),
    "reject_json_str_float_time": (NTV, [("a", "5", 1.0),
                                         ("b", 6.0, 2.0)]),
    "reject_json_str_bool_value": (NTV, [("a", "1", True),
                                         ("b", "2", "3")]),
    "json_numeric_name": (NTV, [(7, 1, 1.0), (3, 2, 2.0), (None, 0, 0.0),
                                (7, 0, 3.0)]),
    "json_float_name": (NTV, [(1.5, 1, 1.0), (float("nan"), 2, 2.0),
                              (-0.5, 3, 3.0), (None, 4, 4.0)]),
    "json_int_overflow_is_null": (NTV, [("a", 2**70, 1.0), ("b", 5, 2.0)]),
    "extra_column": (NTV + ["unit"], [
        ("a", 1, 1.0, "m"), ("b", 2, 2.0, 3.5), ("c", 3, 3.0, None),
        ("d", 4, 4.0, True), ("e", 5, 5.0, 1e20), ("f", 6, 6.0, 7),
        ("g", 7, 7.0, 1.5e-5)]),
    "unnamed_extra_column": (NTV, [("a", 1, 1.0, 10), ("b", 2, 2.0, 20)]),
    "day_column_replaced": (NTV + ["_day"], [("a", 1, 1.0, "x")]),
    "reject_ragged_rows": (NTV, [("a", 1, 1.0), ("b", 2)]),
    "reject_rows_shorter_than_columns": (NTV + ["unit"], [("a", 1, 1.0)]),
    "reject_duplicate_column": (NTV + ["Name"], [("a", 1, 1.0, "b")]),
}


def _spark_append(spark, path, cols, rows):
    from pyspark.sql import functions as F

    from neo_server_spark import io as nio
    df = spark.createDataFrame([tuple(r) for r in rows], list(cols))
    df = df.withColumn("time", F.col("time").cast("long")) \
           .withColumn("value", F.col("value").cast("double"))
    nio.write_tag_table(df, path, mode="append")


def _run(fn):
    try:
        fn()
    except Exception as ex:
        return ex
    return None


def _norm(row) -> tuple:
    return tuple(repr(v) if isinstance(v, float) else v for v in row)


def _day_files(path) -> dict:
    out: dict = {}
    for f in glob.glob(os.path.join(path, "_day=*", "*.parquet")):
        out.setdefault(os.path.basename(os.path.dirname(f)), []).append(f)
    return out


def _sort_key(v):
    nan = isinstance(v, float) and v != v
    return (v is not None, nan, 0 if nan or v is None else v)


@pytest.mark.parametrize("case", sorted(CASES))
def test_append_tag_rows_matches_spark_writer(spark, tmp_path, case):
    from neo_server_spark import io as nio
    cols, rows = CASES[case]
    mine, theirs = str(tmp_path / "mine"), str(tmp_path / "spark")
    err_mine = _run(lambda: nio.append_tag_rows(spark, mine, cols, rows))
    err_spark = _run(lambda: _spark_append(spark, theirs, cols, rows))
    rejected = case.startswith("reject_")
    assert (err_mine is not None, err_spark is not None) == \
        (rejected, rejected), (err_mine, err_spark)
    if rejected:
        left = [f for _r, _d, fs in os.walk(mine) for f in fs]
        assert left == []
        return
    a, b = spark.read.parquet(mine), spark.read.parquet(theirs)
    assert a.schema == b.schema
    assert sorted(map(_norm, a.collect()), key=repr) == \
        sorted(map(_norm, b.collect()), key=repr)
    got, want = _day_files(mine), _day_files(theirs)
    assert sorted(got) == sorted(want)
    names = a.columns[:-1]                      # the files hold no _day
    for day, files in got.items():
        assert len(files) == 1, (day, files)
        t = pq.read_table(files[0])
        assert t.column_names == names
        mine_rows = [tuple(r.values()) for r in t.to_pylist()]
        spark_rows = [tuple(r.values()) for f in want[day]
                      for r in pq.read_table(f).to_pylist()]
        assert sorted(map(_norm, mine_rows), key=repr) == \
            sorted(map(_norm, spark_rows), key=repr)
        ni, ti = names.index("name"), names.index("time")
        keys = [(_sort_key(r[ni]), _sort_key(r[ti])) for r in mine_rows]
        assert keys == sorted(keys)


def test_write_tag_table_clusters_files_by_name_and_time(spark, tmp_path):
    """``write_tag_table``'s (name, time) clustering reaches the files:
    read back with pyarrow, each day's file is in (name, time) order with
    nulls first, not in input order."""
    rows = [("b", 5, 1.0), ("a", 9, 2.0), (None, 3, 3.0), ("b", 1, 4.0),
            ("a", 2, 5.0), ("a", 4, 6.0), ("c", 8, 7.0), (None, 1, 8.0),
            ("b", DAY + 2, 9.0), ("a", DAY + 3, 10.0), ("a", DAY + 1, 11.0)]
    path = str(tmp_path / "w")
    _spark_append(spark, path, NTV, rows)
    files = _day_files(path)
    assert sorted(files) == ["_day=19700101", "_day=19700102"]
    for day, (f,) in files.items():
        got = [(r["name"], r["time"]) for r in pq.read_table(f).to_pylist()]
        want = sorted(((n, t) for n, t, _v in rows
                       if (t >= DAY) == day.endswith("02")),
                      key=lambda nt: (_sort_key(nt[0]), nt[1]))
        assert got == want


def test_append_tag_rows_one_file_per_day_and_no_spark_job(spark, tmp_path):
    from neo_server_spark import io as nio
    path = str(tmp_path / "t")
    rows = [("a", T0 + d * DAY + i, float(i)) for d in range(3)
            for i in range(5)]
    sc = spark.sparkContext
    sc.setJobGroup("append_tag_rows", "appends start no job")
    try:
        assert nio.append_tag_rows(spark, path, NTV, rows) == 15
        assert nio.append_tag_rows(spark, path, NTV, rows[:5]) == 5
        jobs = list(sc.statusTracker().getJobIdsForGroup("append_tag_rows"))
        spark.read.parquet(path).collect()      # the group does see jobs
        assert jobs == [] and \
            list(sc.statusTracker().getJobIdsForGroup("append_tag_rows"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    files = [f for _r, _d, fs in os.walk(path) for f in fs]
    assert len(files) == 4 and all(f.startswith("part-") and
                                   f.endswith(".snappy.parquet")
                                   for f in files)
    assert spark.read.parquet(path).count() == 20
    assert pq.ParquetFile(glob.glob(path + "/*/*.parquet")[0]).metadata \
        .row_group(0).column(0).compression == "SNAPPY"


def test_append_tag_rows_rejects_nested_values(spark, tmp_path):
    """Arrays and objects have no tag-table column type; the batch is
    refused whole, with nothing written."""
    from neo_server_spark import io as nio
    path = str(tmp_path / "t")
    with pytest.raises(TypeError, match="list values"):
        nio.append_tag_rows(spark, path, NTV + ["x"],
                            [("a", 1, 1.0, None), ("a", 2, 2.0, [1, 2])])
    assert not os.path.exists(path)


def test_append_tag_rows_failed_write_leaves_no_file(spark, tmp_path,
                                                     monkeypatch):
    """A batch whose second day file fails to write publishes nothing:
    the first day's finished file stays hidden and is removed."""
    import pyarrow.parquet

    from neo_server_spark import io as nio
    real, calls = pyarrow.parquet.write_table, []

    def flaky(table, where, **kw):
        calls.append(where)
        if len(calls) == 2:
            raise OSError("disk full")
        return real(table, where, **kw)
    monkeypatch.setattr(pyarrow.parquet, "write_table", flaky)
    path = str(tmp_path / "t")
    rows = [("a", T0 + d * DAY, 1.0) for d in range(3)]
    with pytest.raises(OSError, match="disk full"):
        nio.append_tag_rows(spark, path, NTV, rows)
    assert len(calls) == 2
    assert [f for _r, _d, fs in os.walk(path) for f in fs] == []
