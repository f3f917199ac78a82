"""Spark-free tests of the benchmark itself: every kind's check catches a
wrong answer, the same seed gives byte-identical inputs, and the summary
statistics are right.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import csv
import io
import json
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import batch  # noqa: E402
import gen  # noqa: E402
import serve  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("inputs"))
    gen.generate(d, seed=3, scale=0.001, events=120_000)
    return d


def envelope(rows) -> bytes:
    return json.dumps({"data": {"columns": [], "rows": rows},
                       "success": True}).encode()


def lake(samples) -> bytes:
    return json.dumps({"status": "success", "data": {
        "samples": [{"tag_name": t, "data": d} for t, d in samples]}}
    ).encode()


def csv_reply(rows) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(["event_id", "user_id", "event_type", "value"])
    w.writerows(rows)
    return buf.getvalue().encode()


def expect_caught(check, good: bytes, bad: bytes, note=None) -> None:
    check(good, note or {})
    with pytest.raises(serve.WrongAnswer):
        check(bad, note or {})


# ------------------------------------------------------------ serve_read


def test_serve_read_checks_catch_one_wrong_answer_per_kind(inputs, tmp_path):
    w = serve.ServeRead(5, inputs, str(tmp_path))
    assert w.exp_point and w.exp_group and w.exp_large and w.exp_tql
    assert w.exp_raw and w.exp_calc

    bad = [list(r) for r in w.exp_point]
    bad[0][3] += 0.01
    expect_caught(w._check_point, envelope(w.exp_point), envelope(bad))

    bad = [list(r) for r in w.exp_group]
    bad[-1][1] += 1
    expect_caught(w._check_group, envelope(w.exp_group), envelope(bad))

    bad = [list(r) for r in w.exp_large]
    bad[123][3] = bad[123][3] + 1
    expect_caught(w._check_large, csv_reply(w.exp_large), csv_reply(bad))

    bad = [list(r) for r in w.exp_tql]
    bad[7][2] = (bad[7][2] + 1) % 7
    expect_caught(w._check_tql, envelope(w.exp_tql), envelope(bad))

    good = [{"TIME": t, "VALUE": v} for t, v in reversed(w.exp_raw)]
    expect_caught(w._check_raw, lake([(w.raw_tag, good)]),
                  lake([(w.raw_tag, good[1:])]))

    good = [(t, [{"TIME": a, "VALUE": v} for a, v in rows])
            for t, rows in w.exp_calc.items()]
    bad = [(t, [dict(r) for r in rows]) for t, rows in good]
    bad[0][1][0]["VALUE"] *= 1.001
    expect_caught(w._check_calc, lake(good), lake(bad))

    ok = json.dumps({"success": True,
                     "reason": "success, 2 record(s) inserted"}).encode()
    short = json.dumps({"success": True,
                        "reason": "success, 1 record(s) inserted"}).encode()
    expect_caught(w._check_write, ok, short,
                  {"rows": [("w0", 1, 0.5)] * 2, "acked": []})


def test_serve_read_write_tally_reads_files_back(inputs, tmp_path):
    w = serve.ServeRead(5, inputs, str(tmp_path))
    ack = json.dumps({"success": True, "reason":
                      f"success, {w.write_rows} record(s) inserted"}).encode()
    for op in w.round_ops():
        if op.kind == "write":
            op.check(ack, op.note)
    assert len(w.acked) == w.write_rows
    d = tmp_path / w.table / "_day=20240210"
    d.mkdir(parents=True)
    names, times, vals = zip(*w.acked)
    pq.write_table(pa.table({"name": names, "time": times, "value": vals}),
                   str(d / "part-0.parquet"))
    assert w.check_files() == []
    w.acked.append(("w0", 1, 1.0))        # acknowledged but not on disk
    assert len(w.check_files()) == 1


def test_serve_read_ddl_table_must_hold_the_acknowledged_rows(inputs,
                                                               tmp_path):
    w = serve.ServeRead(5, inputs, str(tmp_path))
    ops = [op for _ in range(2) for op in w.round_ops()
           if op.kind == "ddl_write"]
    ack = json.dumps({"success": True, "reason":
                      f"success, {w.ddl_rows} record(s) inserted"}).encode()
    for op in ops:
        op.check(ack, op.note)
    want: dict[str, list] = {}
    for name, _t, v in w.ddl_acked:
        want.setdefault(name, [0, 0.0])
        want[name][0] += 1
        want[name][1] += v
    rows = [[k, n, s] for k, (n, s) in sorted(want.items())]
    assert w.check_ddl(envelope(rows)) == []
    rows[0][1] -= 1                      # one acknowledged row missing
    assert len(w.check_ddl(envelope(rows))) == 1
    again = serve.ServeRead(5, inputs, str(tmp_path))
    assert again._ddl_write_op().body == ops[0].body   # seeded batches


# ------------------------------------------------------------------ batch


def test_batch_compare_uses_selfcheck_rules():
    sc = batch.load_module(ROOT, "tools/selfcheck.py")
    cols, rows = ["b", "a"], [(1, 2.5), (2, None)]
    assert batch.compare(sc, cols, rows, ["b", "a"], list(rows)) is None
    assert batch.compare(sc, cols, rows, ["b", "a"],
                         [(1, 2.5), (2, 0.0)]) is not None
    assert batch.compare(sc, cols, rows, ["b", "c"], list(rows)) is not None
    # rows that agree only after sorting fail, as in tools/selfcheck.py
    assert batch.compare(sc, cols, rows, ["b", "a"],
                         rows[::-1]) is not None


def test_batch_append_tally_catches_a_lost_row(tmp_path):
    import duckdb
    b = batch.Batch(7, "", str(tmp_path), ROOT)
    path = tmp_path / "append_pass_3col"
    (path / "_day=20250101").mkdir(parents=True)
    vals = [batch.append_value(i, 7) for i in range(10, 30)]
    pq.write_table(pa.table({"value": vals}),
                   str(path / "_day=20250101" / "part-0.parquet"))
    con = duckdb.connect()
    b.appended = {str(path): [(10, 20)]}
    assert b.check_appends(con) == []
    b.appended = {str(path): [(10, 21)]}
    assert len(b.check_appends(con)) == 1


# ----------------------------------------------------------------- inputs


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    sizes = {"scale": 0.001, "events": 5000}
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        gen.generate(str(tmp_path / name), seed, **sizes)
    for table in gen.TABLES:
        f = f"{table}.parquet"
        a = (tmp_path / "a" / f).read_bytes()
        assert a == (tmp_path / "b" / f).read_bytes(), table
    assert (tmp_path / "a" / "events.parquet").read_bytes() != \
        (tmp_path / "c" / "events.parquet").read_bytes()


# ------------------------------------------------------------------ stats


def test_median_and_geomean():
    assert stats.median([3, 1, 2]) == 2
    assert stats.median([4, 1, 2, 3]) == 2.5
    assert stats.geomean([1, 100]) == pytest.approx(10.0)
    assert stats.geomean([5.0]) == pytest.approx(5.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])
    with pytest.raises(ValueError):
        stats.median([])


def test_percentile_needs_ten_samples_beyond_it():
    xs = list(range(1, 101))          # 100 samples: p90 rank 90, 10 beyond
    assert stats.percentile_with_tail(xs, 90) == 90
    assert stats.percentile_with_tail(xs[:99], 90) is None
    assert stats.percentile_with_tail(list(range(1, 1001)), 99) == 990
    assert stats.percentile_with_tail([], 50) is None


def test_kind_summary_reports_p90_only_with_a_tail():
    summ = stats.kind_summary({"a": list(range(100)), "b": [1.0, 2.0, 9.0]})
    assert summ["a"]["n"] == 100 and "p90" in summ["a"]
    assert summ["b"] == {"n": 3, "p50": 2.0}


# ---------------------------------------------------------------- run dir


def test_run_dir_jvm_options_survive_a_space_in_the_path(tmp_path,
                                                         monkeypatch):
    import run
    monkeypatch.setattr(run, "ROOT", str(tmp_path / "check out"))
    rd = run.RunDir("batch", 1)
    try:
        opts = rd.env()["JAVA_TOOL_OPTIONS"].split()
        tmpdir = [o for o in opts if o.startswith("-Djava.io.tmpdir=")]
        assert len(tmpdir) == 1
        rel = tmpdir[0].split("=", 1)[1]
        assert os.path.realpath(os.path.join(rd.sub("work"), rel)) == \
            os.path.realpath(rd.sub("tmp"))
    finally:
        rd.remove()
    assert not os.path.exists(rd.path)
