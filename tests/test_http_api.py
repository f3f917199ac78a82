"""HTTP API endpoints (mods/server/http.go route table re-expressed over
the Spark session): /db/query formats + params + exec verbs, /web/api/tql
script execution with query-string params, /db/write ingest."""

import json
import re
import urllib.parse
import urllib.request

import pytest


@pytest.fixture()
def server(spark, sf_dir, tmp_path):
    from neo_server_spark.server.http_api import EngineHttpServer
    from neo_server_spark.sqlx import ddl
    saved = dict(ddl._TABLES)
    ddl._TABLES.clear()
    ddl.exec_sql(spark, "CREATE TAG TABLE EXAMPLE("
                        "name varchar(40) primary key, "
                        "time datetime basetime, "
                        "value double summarized)")
    for i in range(1, 4):
        ddl.exec_sql(spark,
                     "INSERT INTO example VALUES (?, ?, ?)",
                     (f"tag{i % 2}", i * 10**9, 1.5 * i))
    srv = EngineHttpServer(spark, sf_dir=sf_dir, fs_root=str(tmp_path))
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()
    ddl._TABLES.clear()
    ddl._TABLES.update(saved)


def get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return r.status, r.headers.get("Content-Type"), r.read().decode()


def post(url: str, body: bytes, ctype: str = "text/plain"):
    req = urllib.request.Request(url, data=body,
                                 headers={"Content-Type": ctype})
    with urllib.request.urlopen(req, timeout=60) as r:
        return r.status, r.headers.get("Content-Type"), r.read().decode()


def test_db_query_json(server):
    q = urllib.parse.quote("select name, time, value from example "
                           "where name = ?")
    p = urllib.parse.quote('["tag1"]')
    st, ct, body = get(f"{server}/db/query?q={q}&p={p}"
                       "&format=json&timeformat=s")
    assert st == 200 and ct == "application/json"
    d = json.loads(body)
    assert d["success"] is True
    assert d["data"]["columns"] == ["NAME", "TIME", "VALUE"]
    assert d["data"]["types"] == ["string", "datetime", "double"]
    assert d["data"]["rows"] == [["tag1", 1, 1.5], ["tag1", 3, 4.5]]


def test_db_query_csv_options(server):
    q = urllib.parse.quote("select name, value from example")
    st, ct, body = get(f"{server}/db/query?q={q}&format=csv")
    assert st == 200 and ct.startswith("text/csv")
    assert body.splitlines()[0] == "NAME,VALUE"
    # 3 data rows + header + the Exporter.Close blank (csv_encode.go:127)
    assert len(body.splitlines()) == 5
    # header=skip drops the heading (svrmsg.go:80 'skip' handling)
    st, _, body2 = get(f"{server}/db/query?q={q}&format=csv&header=skip")
    assert body2.splitlines()[0] != "NAME,VALUE"
    assert len(body2.splitlines()) == 4


def test_db_query_exec_verb(server):
    q = urllib.parse.quote(
        "insert into example (name,time,value) values('hx', 9000000000, 9.9)")
    st, ct, body = get(f"{server}/db/query?q={q}")
    assert st == 200 and ct == "application/json"
    d = json.loads(body)
    assert d["success"] and d["data"]["message"] == "a row inserted."
    # readable back through the same endpoint
    q2 = urllib.parse.quote("select count(*) AS n from example where name = 'hx'")
    _, _, out = get(f"{server}/db/query?q={q2}&format=json")
    assert json.loads(out)["data"]["rows"] == [[1]]


def test_db_query_show_and_errors(server):
    st, _, body = get(f"{server}/db/query?q="
                      + urllib.parse.quote("show tables") + "&format=csv")
    assert st == 200
    assert body.splitlines()[0].startswith("DATABASE_NAME,USER_NAME")
    # empty q -> 400 'sql text is empty' (svrmsg.go:150)
    try:
        get(f"{server}/db/query?format=json")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert json.loads(e.read().decode())["reason"] == "sql text is empty"


def test_web_api_tql(server):
    script = b"""
FAKE( linspace(1, parseFloat(param('n')), 3) )
CSV()
"""
    st, ct, body = post(f"{server}/web/api/tql?n=5", script)
    assert st == 200 and ct.startswith("text/csv")
    assert body.splitlines() == ["1", "3", "5", ""]


def test_db_write_csv_and_ndjson(server, spark):
    st, _, body = post(f"{server}/db/write/example?format=csv&method=insert",
                       b"w1,5000000000,7.5\nw2,6000000000,8.5\n")
    d = json.loads(body)
    assert d["success"] and d["reason"] == "success, 2 record(s) inserted"
    assert spark.table("example").filter("name like 'w%'").count() == 2
    nd = (b'{"name":"w3","time":7000000000,"value":1.25}\n')
    st, _, body = post(f"{server}/db/write/example?format=ndjson", nd)
    assert json.loads(body)["reason"] == "success, 1 record(s) inserted"
    got = spark.table("example").filter("name = 'w3'").first()
    assert got.value == 1.25 and got.time == 7000000000


def _concurrent_csv_writes(server: str, table: str):
    """Three clients post 15 CSV batches of 20 tag rows each to
    /db/write/<table> at once; returns (acknowledged rows, failures)."""
    import threading
    acked, failed, lock = [], [], threading.Lock()

    def writer(w: int) -> None:
        for k in range(15):
            rows = [(f"c{w}", (w * 10**6 + k * 20 + i) * 10**9,
                     float(w * 1000 + k * 20 + i)) for i in range(20)]
            body = "".join(f"{n},{t},{v}\n" for n, t, v in rows).encode()
            try:
                st, _, out = post(f"{server}/db/write/{table}?format=csv",
                                  body)
                ok = st == 200 and json.loads(out)["success"]
            except Exception as ex:         # HTTPError on a 500
                ok, out = False, repr(ex)
            with lock:
                if ok:
                    acked.extend(rows)
                else:
                    failed.append(out)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    return acked, failed


def test_db_write_concurrent_appends(server, spark, tmp_path):
    """Three clients append 15 CSV batches of 20 rows each into one
    parquet tag table at once: every request is acknowledged and the
    table holds exactly the acknowledged rows."""
    acked, failed = _concurrent_csv_writes(server, "cw")
    assert failed == [] and len(acked) == 900
    got = spark.read.parquet(str(tmp_path / "cw")) \
        .selectExpr("count(*)", "sum(value)").first()
    assert (got[0], got[1]) == (len(acked), sum(v for _n, _t, v in acked))


def test_db_write_concurrent_ddl_inserts(server, spark):
    """The same three concurrent clients writing one CREATE TAG TABLE
    table: the view read afterwards holds every acknowledged row (each
    write's row change and view refresh run under one lock, so an older
    snapshot can never be registered last)."""
    from neo_server_spark.sqlx import ddl
    ddl.exec_sql(spark, "CREATE TAG TABLE cwd(name varchar(40) primary "
                        "key, time datetime basetime, "
                        "value double summarized)")
    acked, failed = _concurrent_csv_writes(server, "cwd")
    assert failed == [] and len(acked) == 900
    got = spark.table("cwd").selectExpr("count(*)", "sum(value)").first()
    assert (got[0], got[1]) == (len(acked), sum(v for _n, _t, v in acked))
    q = urllib.parse.quote("select count(*) AS n, sum(value) AS s from cwd")
    _, _, body = get(f"{server}/db/query?q={q}&format=json")
    assert json.loads(body)["data"]["rows"] == [
        [len(acked), sum(v for _n, _t, v in acked)]]


def test_db_query_gzip(server):
    import gzip
    q = urllib.parse.quote("select name, value from example")
    req = urllib.request.Request(
        f"{server}/db/query?q={q}&format=csv&compress=gzip")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.headers.get("Content-Encoding") == "gzip"
        body = gzip.decompress(r.read()).decode()
    assert body.splitlines()[0] == "NAME,VALUE"


def test_web_api_tql_file(server, tmp_path):
    # the fixture's fs_root IS tmp_path — drop a script there
    (tmp_path / "hello.tql").write_text(
        "FAKE( linspace(2, 6, 3) )\nCSV()\n")
    st, ct, body = get(f"{server}/web/api/tql/hello.tql")
    assert st == 200 and ct.startswith("text/csv")
    assert body.splitlines() == ["2", "4", "6", ""]
    # path escapes 404
    try:
        get(f"{server}/web/api/tql/../../etc/passwd")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404


# ---------------------------------------------------------------------------
# Lake REST API (/lakes/values/:type, /lakes/tags — http_lake.go)
# ---------------------------------------------------------------------------

def test_lake_raw_and_tags(server, spark, sf_dir):
    from neo_server_spark import io as nio
    tag = nio.events_as_tag(spark, sf_dir)
    first = tag.orderBy("time").first()
    name = first["name"]
    t0, t1 = first["time"], first["time"] + 3600 * 10**9
    st, ct, body = get(
        f"{server}/lakes/values/raw?tag_name={name}"
        f"&start_time={t0}&end_time={t1}&count=5")
    d = json.loads(body)
    assert st == 200 and d["status"] == "success"
    data = d["data"]
    assert data["calc_mode"] == "raw"
    assert [c["name"] for c in data["columns"]] == ["TIME", "VALUE"]
    s = data["samples"][0]
    assert s["tag_name"] == name and 1 <= len(s["data"]) <= 5
    row = s["data"][0]
    assert set(row) == {"TIME", "VALUE"}
    assert re.match(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", row["TIME"])
    # value_return_form=1 transposes into column arrays
    _, _, body1 = get(
        f"{server}/lakes/values/raw?tag_name={name}"
        f"&start_time={t0}&end_time={t1}&count=5&value_return_form=1")
    s1 = json.loads(body1)["data"]["samples"][0]
    assert set(s1["data"]) == {"TIME", "VALUE"}
    assert isinstance(s1["data"]["VALUE"], list)
    # tag list endpoint
    _, _, tl = get(f"{server}/lakes/tags")
    tags = json.loads(tl)["data"]["tag"]
    assert name in tags and tags == sorted(tags)


def test_lake_calculated_last_stat(server, spark, sf_dir):
    from neo_server_spark import io as nio
    tag = nio.events_as_tag(spark, sf_dir)
    first = tag.orderBy("time").first()
    name, t0 = first["name"], first["time"]
    t1 = t0 + 24 * 3600 * 10**9
    _, _, body = get(
        f"{server}/lakes/values/calculated?tag_name={name}"
        f"&start_time={t0}&end_time={t1}&calc_mode=avg"
        f"&interval_type=HOUR&interval_value=1&count=500")
    d = json.loads(body)
    assert d["status"] == "success"
    assert d["data"]["calc_mode"] == "avg"
    assert len(d["data"]["samples"][0]["data"]) >= 1
    _, _, body = get(
        f"{server}/lakes/values/last?tag_name={name}"
        f"&start_time={t0}&end_time={t1}")
    d = json.loads(body)
    assert len(d["data"]["samples"][0]["data"]) == 1   # one row per tag
    _, _, body = get(f"{server}/lakes/values/stat?tag_name={name}")
    d = json.loads(body)
    row = d["data"]["samples"][0]["data"][0]
    assert row["ROW_COUNT"] >= 1 and "RECENT_ROW_TIME" in row


def test_lake_errors(server):
    import urllib.error
    try:
        get(f"{server}/lakes/values/raw?start_time=0&end_time=1")
        raise AssertionError("expected 422")
    except urllib.error.HTTPError as e:
        assert e.code == 422
        assert "tagname" in json.loads(e.read().decode())["message"]
    try:
        get(f"{server}/lakes/values/nope?tag_name=x")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        d = json.loads(e.read().decode())
        assert d["message"] == "This type is not available"


def test_lake_post_values(server, spark, tmp_path):
    body = json.dumps({"values": [
        {"Tag": "lk1", "Ts": 1700000000000000000, "Val": 1.5},
        {"Tag": "lk1", "Ts": 1700000001000000000, "Val": 2.5},
        {"Tag": "lk2", "Ts": 1700000002000000000, "Val": 3.5},
    ]}).encode()
    st, _, out = post(f"{server}/lakes/values", body, "application/json")
    d = json.loads(out)
    assert d["success"] and d["data"] == {"success": 3, "fail": 0}
    got = spark.read.parquet(str(tmp_path / "TAG"))
    assert got.count() == 3
    # standard form with epoch times
    body = json.dumps({"tag_name": "lk3",
                       "values": [[1700000003000000000, 7.25]]}).encode()
    _, _, out = post(f"{server}/lakes/values/standard", body,
                     "application/json")
    assert json.loads(out)["data"]["success"] == 1
    # empty values -> 412 'values is empty'
    import urllib.error
    try:
        post(f"{server}/lakes/values", b'{"values": []}',
             "application/json")
        raise AssertionError("expected 412")
    except urllib.error.HTTPError as e:
        assert e.code == 412
        assert json.loads(e.read().decode())["reason"] == "values is empty"


def test_lake_post_values_time_out_of_range_fails_record(server, spark,
                                                         tmp_path):
    """A time beyond BIGINT fails its own record; the rest are stored."""
    body = json.dumps({"values": [
        {"Tag": "lk1", "Ts": 1700000000000000000, "Val": 1.5},
        {"Tag": "lk1", "Ts": 2**63, "Val": 2.5},
    ]}).encode()
    _, _, out = post(f"{server}/lakes/values", body, "application/json")
    assert json.loads(out)["data"] == {"success": 1, "fail": 1}
    body = json.dumps({"tag_name": "lk3", "date_format": "YYYY-MM-DD",
                       "values": [["9999-01-01", 7.25]]}).encode()
    _, _, out = post(f"{server}/lakes/values/standard", body,
                     "application/json")
    assert json.loads(out)["data"] == {"success": 0, "fail": 1}
    got = spark.read.parquet(str(tmp_path / "TAG")).collect()
    assert [(r.name, r.time) for r in got] == [("lk1", 1700000000000000000)]


def test_lake_exec_query(server):
    body = json.dumps({"sql": "SELECT NAME, count(*) AS N FROM TAG "
                              "GROUP BY NAME ORDER BY NAME"}).encode()
    st, _, out = post(f"{server}/lakes/inter/execquery", body,
                      "application/json")
    d = json.loads(out)
    assert d["status"] == "success"
    assert [c["name"] for c in d["data"]["columns"]] == ["NAME", "N"]
    assert d["data"]["data"] and d["data"]["error_code"] == 0


def test_web_api_query_alias(server):
    q = urllib.parse.quote("select count(*) AS n from example")
    for route in ("/web/api/query", "/web/api/machbase"):
        _, _, out = get(f"{server}{route}?q={q}&format=json")
        assert json.loads(out)["data"]["rows"] == [[3]]


def test_metrics_line_protocol_write(server, spark, tmp_path):
    import urllib.error
    body = (b"cpu,host=h1 usage=0.5,iowait=0.1 1700000000000000000\n"
            b"mem value=75.5 1700000001000000000\n")
    req = urllib.request.Request(
        f"{server}/metrics/write?db=ilp", data=body,
        headers={"Content-Type": "text/plain"})
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 204
    got = {r.name: r.value for r in
           spark.read.parquet(str(tmp_path / "ilp")).collect()}
    assert got == {"cpu.usage": 0.5, "cpu.iowait": 0.1, "mem.value": 75.5}
    # unknown operation -> 501 like the reference
    try:
        urllib.request.urlopen(urllib.request.Request(
            f"{server}/metrics/query", data=b"x"), timeout=60)
        raise AssertionError("expected 501")
    except urllib.error.HTTPError as e:
        assert e.code == 501


# ------------------------------------------------------------- /db/watch SSE

def _sse_open(url: str):
    return urllib.request.urlopen(url, timeout=45)


def _sse_event(resp) -> str:
    """Read one SSE event (text up to the blank-line separator)."""
    lines = []
    while True:
        ln = resp.readline().decode()
        if not ln:
            raise AssertionError("SSE stream closed early")
        if ln.strip() == "":
            if lines:
                return "".join(lines).rstrip("\n")
            continue
        lines.append(ln)


def _sse_next_data(resp) -> dict:
    while True:
        ev = _sse_event(resp)
        if ev.startswith("data: "):
            return json.loads(ev[len("data: "):])


def test_watch_tag_table_sse(server, spark, monkeypatch):
    """GET /db/watch/:table?tag= — reference watch journey
    (http_query.go:109-200): SSE content type, the connect-time latest
    row per tag, then one event per advance of the tag's basetime."""
    from neo_server_spark.server.http_api import EngineHttpServer
    from neo_server_spark.sqlx import ddl
    monkeypatch.setattr(EngineHttpServer, "WATCH_MIN_PERIOD", 0.05)

    req = urllib.request.Request(
        f"{server}/db/watch/example?tag=tag1&period=100ms&timeformat=s")
    with urllib.request.urlopen(req, timeout=45) as resp:
        assert resp.headers.get("Content-Type") == "text/event-stream"
        first = _sse_next_data(resp)
        assert first == {"name": "tag1", "time": 3, "value": 4.5}
        # append a newer row -> exactly one event with the new latest
        ddl.exec_sql(spark, "INSERT INTO example VALUES (?, ?, ?)",
                     ("tag1", 5 * 10**9, 7.5))
        nxt = _sse_next_data(resp)
        assert nxt == {"name": "tag1", "time": 5, "value": 7.5}
        # stale re-insert of an OLDER time must not emit: watch tag0 sees
        # only its own advances (per-tag keying)
        ddl.exec_sql(spark, "INSERT INTO example VALUES (?, ?, ?)",
                     ("tag0", 9 * 10**9, 0.25))
        # tag0 is not watched -> nothing arrives; force a keep-alive probe
        # by reading with a short socket timeout
        import socket
        resp.fp.raw._sock.settimeout(1.0)
        try:
            _sse_next_data(resp)
            raise AssertionError("unwatched tag produced an event")
        except (socket.timeout, TimeoutError):
            pass


def test_watch_log_table_sse(server, spark, monkeypatch):
    """No tag params = LOG-table mode: the first poll anchors the
    arrival high-water mark silently, later appends stream in order,
    and more than max-rows changes emit the reference's
    'too many changes' error event and re-anchor."""
    import time as _time
    from neo_server_spark.server.http_api import EngineHttpServer
    monkeypatch.setattr(EngineHttpServer, "WATCH_MIN_PERIOD", 0.05)

    # seed a log-shaped table through /db/write (parquet under fs_root)
    post(f"{server}/db/write/wlog?format=csv", b"name-0,1000,1.0\n")
    req = urllib.request.Request(
        f"{server}/db/watch/wlog?period=100ms&max-rows=2")
    with urllib.request.urlopen(req, timeout=45) as resp:
        _time.sleep(4.0)          # anchor poll must complete first
        post(f"{server}/db/write/wlog?format=csv",
             b"name-1,2000,2.0\nname-2,3000,3.0\n")
        a = _sse_next_data(resp)
        b = _sse_next_data(resp)
        assert (a["time"], a["value"]) == (2000, 2.0)
        assert (b["time"], b["value"]) == (3000, 3.0)
        # burst past max-rows -> 2 rows + error event, mark re-anchors
        post(f"{server}/db/write/wlog?format=csv",
             b"n,4000,4.0\nn,5000,5.0\nn,6000,6.0\nn,7000,7.0\n")
        got, err = [], None
        while err is None:
            ev = _sse_event(resp)
            if ev.startswith("data: "):
                got.append(json.loads(ev[len("data: "):]))
            elif ev.startswith("error: "):
                err = ev[len("error: "):]
        assert err == "too many changes, omit the rest"
        assert [g["time"] for g in got] == [4000, 5000]


def test_watch_keepalive_and_missing_table(server, monkeypatch):
    import urllib.error
    from neo_server_spark.server.http_api import EngineHttpServer
    monkeypatch.setattr(EngineHttpServer, "WATCH_MIN_PERIOD", 0.05)
    # keep-alive comments flow while the table is quiet
    req = urllib.request.Request(
        f"{server}/db/watch/example?tag=tag0&period=5s&keep-alive=200ms")
    with urllib.request.urlopen(req, timeout=45) as resp:
        _sse_next_data(resp)                    # connect-time latest row
        ln = resp.readline().decode()
        while ln.strip() == "":
            ln = resp.readline().decode()
        assert ln.startswith(": keep-alive")
    # unknown table -> reference answers a JSON error (500)
    try:
        urllib.request.urlopen(
            f"{server}/db/watch/no_such_table", timeout=45)
        raise AssertionError("expected 500")
    except urllib.error.HTTPError as e:
        assert e.code == 500
        assert "does not exist" in json.loads(e.read())["reason"]


def test_api_tables_console_routes(server, spark):
    """The console data API trio (http_query.go:394-640): table list with
    prefix/glob name filters, per-table tag list, and the tag stat row."""
    st, _, body = get(f"{server}/web/api/tables")
    d = json.loads(body)
    assert st == 200 and d["success"] is True
    assert d["data"]["columns"] == ["ROWNUM", "DB", "USER", "NAME", "TYPE"]
    names = {r[3]: r for r in d["data"]["rows"]}
    assert "EXAMPLE" in names
    assert names["EXAMPLE"][1:3] == ["MACHBASEDB", "SYS"]
    assert names["EXAMPLE"][4] == "Tag"
    # prefix filter
    _, _, body = get(f"{server}/web/api/tables?name=EXA")
    assert [r[3] for r in json.loads(body)["data"]["rows"]] == ["EXAMPLE"]
    # glob filter
    _, _, body = get(f"{server}/web/api/tables?name=EX*LE")
    assert [r[3] for r in json.loads(body)["data"]["rows"]] == ["EXAMPLE"]
    # showall appends the tag table's physical parts
    _, _, body = get(f"{server}/web/api/tables?name=_EXAMPLE*&showall=true")
    parts = {r[3] for r in json.loads(body)["data"]["rows"]}
    assert {"_EXAMPLE_DATA_0", "_EXAMPLE_META"} <= parts

    # tag list
    _, _, body = get(f"{server}/web/api/tables/example/tags")
    d = json.loads(body)
    assert d["data"]["columns"] == ["ROWNUM", "NAME"]
    assert [r[1] for r in d["data"]["rows"]] == ["tag0", "tag1"]
    _, _, body = get(f"{server}/web/api/tables/example/tags?name=tag1")
    assert [r[1] for r in json.loads(body)["data"]["rows"]] == ["tag1"]

    # tag stat (fixture rows: tag1 @ t=1s,3s values 1.5/4.5)
    _, _, body = get(
        f"{server}/web/api/tables/example/tags/tag1/stat?timeformat=s")
    d = json.loads(body)
    assert d["data"]["columns"][:5] == [
        "ROWNUM", "NAME", "ROW_COUNT", "MIN_TIME", "MAX_TIME"]
    row = d["data"]["rows"][0]
    assert row[:5] == [1, "tag1", 2, 1, 3]
    assert row[5:] == [1.5, 1, 4.5, 3, 3]   # min/max value+times, recent

    # error envelopes
    import urllib.error
    for path, code in [("/web/api/tables/no_such/tags", 500),
                       ("/web/api/tables/example/tags/ghost/stat", 500)]:
        try:
            urllib.request.urlopen(f"{server}{path}", timeout=60)
            raise AssertionError("expected error")
        except urllib.error.HTTPError as e:
            assert e.code == code


def test_api_timers_crud_and_fire(server, spark, tmp_path):
    """Timer facility (http_facility.go:19-230): add a timer whose task
    is a .tql script under fs_root, start it, watch it FIRE (rows land in
    the engine table), stop, update, delete."""
    import time as _time

    (tmp_path / "tick.tql").write_text(
        'FAKE( linspace(1, 1, 1) )\n'
        'MAPVALUE(0, "tmr")\n'
        'PUSHVALUE(1, 8000000000)\n'
        'PUSHVALUE(2, 42.5)\n'
        'INSERT("name", "time", "value", table(\'example\'))\n')

    # add (autoStart=false) -> listed, state STOP
    st, _, body = post(f"{server}/web/api/timers",
                       json.dumps({"name": "T1", "autoStart": False,
                                   "schedule": "@every 100ms",
                                   "path": "tick.tql"}).encode(),
                       "application/json")
    assert st == 200 and json.loads(body)["success"]
    _, _, body = get(f"{server}/web/api/timers")
    lst = json.loads(body)["data"]
    assert lst == [{"name": "t1", "type": "TIMER", "state": "STOP",
                    "autoStart": False, "schedule": "@every 100ms",
                    "task": "tick.tql"}]
    # duplicate add -> 400 with the reference wording
    try:
        post(f"{server}/web/api/timers",
             json.dumps({"name": "t1", "schedule": "@every 1s",
                         "path": "x.tql"}).encode(), "application/json")
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert json.loads(e.read())["reason"] == "'t1' is duplicate name."

    # start -> fires the tql task -> rows appear
    st, _, _ = post(f"{server}/web/api/timers/t1/state",
                    json.dumps({"state": "start"}).encode(),
                    "application/json")
    assert st == 200
    deadline = _time.time() + 30
    while _time.time() < deadline:
        if spark.table("example").filter("name = 'tmr'").count() > 0:
            break
        _time.sleep(0.2)
    n1 = spark.table("example").filter("name = 'tmr'").count()
    assert n1 > 0
    _, _, body = get(f"{server}/web/api/timers/t1")
    assert json.loads(body)["data"]["state"] == "RUNNING"

    # stop -> no further fires
    post(f"{server}/web/api/timers/t1/state",
         json.dumps({"state": "STOP"}).encode(), "application/json")
    n2 = spark.table("example").filter("name = 'tmr'").count()
    _time.sleep(0.5)
    assert spark.table("example").filter("name = 'tmr'").count() == n2

    # update schedule via PUT, then delete
    req = urllib.request.Request(
        f"{server}/web/api/timers/t1",
        data=json.dumps({"schedule": "@every 5s"}).encode(),
        headers={"Content-Type": "application/json"}, method="PUT")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 200
    _, _, body = get(f"{server}/web/api/timers/t1")
    assert json.loads(body)["data"]["schedule"] == "@every 5s"
    req = urllib.request.Request(f"{server}/web/api/timers/t1",
                                 method="DELETE")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 200
    _, _, body = get(f"{server}/web/api/timers")
    assert json.loads(body)["data"] == []


def test_api_subscribers_crud_and_message_flow(server, spark, tmp_path,
                                               monkeypatch):
    """Subscriber facility (http_facility.go:811-1000 over
    sched_subs.go): the bridge is a directory queue under fs_root; each
    new file is one message.  A write-descriptor task ingests payloads
    into the engine table; a .tql task runs per payload with TOPIC
    params."""
    import time as _time
    from neo_server_spark.server.http_api import EngineHttpServer
    monkeypatch.setattr(EngineHttpServer, "SUBSCRIBER_POLL_SEC", 0.1)

    topic_dir = tmp_path / "mq" / "sensors"
    topic_dir.mkdir(parents=True)
    st, _, body = post(f"{server}/web/api/subscribers",
                       json.dumps({"name": "S1", "autoStart": False,
                                   "bridge": "mq", "topic": "sensors",
                                   "task": "db/append/example:csv"}
                                  ).encode(), "application/json")
    assert st == 200 and json.loads(body)["success"]
    _, _, body = get(f"{server}/web/api/subscribers")
    assert json.loads(body)["data"] == [
        {"name": "s1", "type": "SUBSCRIBER", "state": "STOP",
         "autoStart": False, "bridge": "mq", "topic": "sensors",
         "task": "db/append/example:csv"}]
    # duplicate -> 500 'duplicate name' (reference wording)
    try:
        post(f"{server}/web/api/subscribers",
             json.dumps({"name": "s1", "bridge": "mq", "topic": "t",
                         "task": "x.tql"}).encode(), "application/json")
        raise AssertionError("expected 500")
    except urllib.error.HTTPError as e:
        assert e.code == 500
        assert json.loads(e.read())["reason"] == "duplicate name"

    # start; drop two message files; rows land in the engine table
    post(f"{server}/web/api/subscribers/s1/state",
         json.dumps({"state": "START"}).encode(), "application/json")
    (topic_dir / "m1.csv").write_text("sub1,11000000000,1.5\n")
    (topic_dir / "m2.csv").write_text("sub2,12000000000,2.5\n")
    deadline = _time.time() + 30
    while _time.time() < deadline:
        if spark.table("example").filter("name like 'sub%'").count() == 2:
            break
        _time.sleep(0.2)
    assert spark.table("example").filter("name like 'sub%'").count() == 2
    # a message is consumed ONCE (tombstoned into done/), not per poll
    _time.sleep(0.5)
    assert spark.table("example").filter("name like 'sub%'").count() == 2
    # processed files moved to done/ — the queue dir itself is drained,
    # so a server restart replays nothing
    assert sorted(f.name for f in (topic_dir / "done").iterdir()) == \
        ["m1.csv", "m2.csv"]
    assert [f.name for f in topic_dir.iterdir() if f.is_file()] == []

    # stop + delete
    post(f"{server}/web/api/subscribers/s1/state",
         json.dumps({"state": "STOP"}).encode(), "application/json")
    req = urllib.request.Request(f"{server}/web/api/subscribers/s1",
                                 method="DELETE")
    with urllib.request.urlopen(req, timeout=60) as r:
        assert r.status == 200
    _, _, body = get(f"{server}/web/api/subscribers")
    assert json.loads(body)["data"] == []

    # .tql task: payload + TOPIC param drive the script
    (tmp_path / "onmsg.tql").write_text(
        "CSV(payload())\n"
        "MAPVALUE(0, param('TOPIC'))\n"
        'INSERT("name", "time", "value", table(\'example\'))\n')
    topic2 = tmp_path / "mq" / "t2"
    topic2.mkdir()
    post(f"{server}/web/api/subscribers",
         json.dumps({"name": "s2", "autoStart": True, "bridge": "mq",
                     "topic": "t2", "task": "onmsg.tql"}).encode(),
         "application/json")
    (topic2 / "m1.csv").write_text("x,13000000000,9.5\n")
    deadline = _time.time() + 30
    while _time.time() < deadline:
        if spark.table("example").filter("name = 't2'").count() == 1:
            break
        _time.sleep(0.2)
    got = spark.table("example").filter("name = 't2'").collect()
    assert len(got) == 1 and got[0].value == 9.5
    req = urllib.request.Request(f"{server}/web/api/subscribers/s2",
                                 method="DELETE")
    urllib.request.urlopen(req, timeout=60)


def test_api_bridges_crud_and_guard(server, tmp_path):
    """Bridge facility (http_facility.go:1064-1290): add/list/delete
    bridges; state=test on the dir-queue type; deleting a bridge a
    subscriber uses fails with the reference wording."""
    # add a dir bridge + a sql-type bridge
    for req in ({"name": "MQ2", "type": "dir", "path": "mq2"},
                {"name": "sq", "type": "sqlite",
                 "path": "jdbc:sqlite:/tmp/x.db"}):
        st, _, body = post(f"{server}/web/api/bridges",
                           json.dumps(req).encode(), "application/json")
        assert st == 200 and json.loads(body)["success"]
    _, _, body = get(f"{server}/web/api/bridges")
    assert [b["name"] for b in json.loads(body)["data"]] == ["mq2", "sq"]
    # unknown type -> the reference's (typo'd) wording
    try:
        post(f"{server}/web/api/bridges",
             json.dumps({"name": "k", "type": "kafka", "path": "x"}
                        ).encode(), "application/json")
        raise AssertionError("expected 500")
    except urllib.error.HTTPError as e:
        assert e.code == 500
        assert json.loads(e.read())["reason"] == 'unknown birdge type "kafka"'
    # state=test on the dir bridge: missing dir fails, existing passes
    try:
        post(f"{server}/web/api/bridges/mq2/state",
             json.dumps({"state": "test"}).encode(), "application/json")
        raise AssertionError("expected 500")
    except urllib.error.HTTPError as e:
        assert e.code == 500
    (tmp_path / "mq2").mkdir()
    st, _, _ = post(f"{server}/web/api/bridges/mq2/state",
                    json.dumps({"state": "test"}).encode(),
                    "application/json")
    assert st == 200

    # a subscriber on the bridge blocks deletion
    (tmp_path / "mq2" / "top").mkdir()
    post(f"{server}/web/api/subscribers",
         json.dumps({"name": "sb", "bridge": "mq2", "topic": "top",
                     "task": "db/append/example:csv"}).encode(),
         "application/json")
    req = urllib.request.Request(f"{server}/web/api/bridges/mq2",
                                 method="DELETE")
    try:
        urllib.request.urlopen(req, timeout=60)
        raise AssertionError("expected 400")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert json.loads(e.read())["reason"] == \
            'bridge "mq2" has a subscriber, sb'
    # remove the subscriber, then deletion succeeds
    urllib.request.urlopen(urllib.request.Request(
        f"{server}/web/api/subscribers/sb", method="DELETE"), timeout=60)
    with urllib.request.urlopen(urllib.request.Request(
            f"{server}/web/api/bridges/mq2", method="DELETE"),
            timeout=60) as r:
        assert r.status == 200
    _, _, body = get(f"{server}/web/api/bridges")
    assert [b["name"] for b in json.loads(body)["data"]] == ["sq"]


def test_subscriber_restart_does_not_replay(spark, sf_dir, tmp_path):
    """The done/ tombstone is durable consumption state: a brand-new
    server over the same fs_root (a restart) must drain only genuinely
    NEW queue files — the pre-tombstone in-memory seen-set replayed the
    entire message history on every restart."""
    import json as _json
    import urllib.request as _rq

    from neo_server_spark.server.http_api import EngineHttpServer
    from neo_server_spark.sqlx import ddl

    saved = dict(ddl._TABLES)
    ddl._TABLES.clear()
    try:
        ddl.exec_sql(spark, "CREATE TAG TABLE RSTTAB("
                            "name varchar(40) primary key, "
                            "time datetime basetime, "
                            "value double summarized)")
        qdir = tmp_path / "mq" / "t"
        qdir.mkdir(parents=True)
        (qdir / "m1.csv").write_text("rst.a,1000000000,1.0\n")

        def boot():
            srv = EngineHttpServer(spark, fs_root=str(tmp_path))
            port = srv.start()
            req = _rq.Request(
                f"http://127.0.0.1:{port}/web/api/subscribers",
                data=_json.dumps({"name": "rs", "bridge": "mq",
                                  "topic": "t",
                                  "task": "db/append/rsttab:csv"}
                                 ).encode(),
                headers={"Content-Type": "application/json"},
                method="POST")
            _rq.urlopen(req, timeout=60).read()
            srv._sched.trigger_now("sub:rs")
            return srv

        srv1 = boot()
        assert spark.table("rsttab").count() == 1
        srv1.stop()

        # restart: same queue dir, fresh server/process state
        (qdir / "m2.csv").write_text("rst.b,2000000000,2.0\n")
        srv2 = boot()
        rows = sorted((r["name"], r["value"])
                      for r in spark.table("rsttab").collect())
        # m1 NOT replayed; m2 consumed once
        assert rows == [("rst.a", 1.0), ("rst.b", 2.0)]
        srv2.stop()
    finally:
        ddl._TABLES.clear()
        ddl._TABLES.update(saved)
