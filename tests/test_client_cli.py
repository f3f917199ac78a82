"""The product surface: the HTTP client library (client.py) against a live
EngineHttpServer, and the `python -m neo_server_spark` CLI verbs."""

import json

import pytest

from neo_server_spark.client import Client, ClientError


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
    ddl.exec_sql(spark, "INSERT INTO example VALUES (?, ?, ?)",
                 ("tag1", 10**9, 1.5))
    srv = EngineHttpServer(spark, sf_dir=sf_dir, fs_root=str(tmp_path),
                           backup_dir=str(tmp_path))
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()
    for n in list(ddl._TABLES):
        try:
            ddl.drop_table(spark, n)
        except Exception:
            pass
    ddl._TABLES.clear()
    ddl._TABLES.update(saved)
    for n in ddl._TABLES:
        ddl._refresh_view(spark, n)
    # the server registered the TESTDATA views on query — drop them so
    # later catalog-shape tests (SHOW TABLES batteries) see a clean slate
    from neo_server_spark.session import session_catalog
    for n in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        try:
            session_catalog(spark).drop_view(spark, n)
        except Exception:
            pass


def test_client_query_exec_write_tql(server):
    c = Client(server)
    # exec + parameterized query
    assert "inserted" in c.exec(
        "insert into example values (?, ?, ?)", ["tag2", 2 * 10**9, 2.5])
    rows = c.query("select name, value from example where name = ?",
                   params=["tag2"])
    assert rows == [["tag2", 2.5]]
    # csv format passthrough
    text = c.query("select name from example order by name", format="csv")
    assert text.splitlines()[0] in ("name", "NAME")
    # ndjson write
    msg = c.write("example", [["tag3", 3 * 10**9, 3.5]],
                  columns=["name", "time", "value"])
    assert "1 record" in msg
    assert c.query("select count(*) from example")[0][0] == 3
    # tql
    out = c.tql("FAKE(linspace(0, 1, 3))\nCSV()")
    assert out.splitlines()[:3] == ["0", "0.5", "1"]
    # backup through the client's exec verb
    assert c.exec("BACKUP DATABASE INTO DISK = '/tmp/cli_bk_test'")
    # error surfaces as ClientError
    with pytest.raises(ClientError):
        c.exec("drop table nope_not_here")


def test_cli_sql_and_tql(spark, capsys):
    import neo_server_spark.__main__ as M
    rc = M.main(["sql", "select 1 as one", "--format", "csv"])
    assert rc == 0
    # CSV() renders headerless by default, like the reference codec
    assert capsys.readouterr().out.splitlines()[:1] == ["1"]
    import io, sys
    old = sys.stdin
    sys.stdin = io.StringIO("FAKE(linspace(0, 2, 3))\nCSV()")
    try:
        rc = M.main(["tql", "-"])
    finally:
        sys.stdin = old
    assert rc == 0
    assert capsys.readouterr().out.splitlines()[:3] == ["0", "1", "2"]


def test_client_watch_generator(server, spark, monkeypatch):
    """Client.watch: the SSE watch journey end-to-end from the stdlib
    client — connect-time latest row, then events as the tag advances."""
    import threading
    from neo_server_spark.server.http_api import EngineHttpServer
    from neo_server_spark.sqlx import ddl
    monkeypatch.setattr(EngineHttpServer, "WATCH_MIN_PERIOD", 0.05)

    c = Client(server, timeout=45)
    got = []

    def consume():
        for ev in c.watch("example", tags=["tag1"], period="100ms",
                          timeformat="s", max_events=2):
            got.append(ev)

    t = threading.Thread(target=consume, daemon=True)
    t.start()
    # first event (current latest) arrives, then append a newer row
    import time as _time
    for _ in range(100):
        if got:
            break
        _time.sleep(0.1)
    ddl.exec_sql(spark, "INSERT INTO example VALUES (?, ?, ?)",
                 ("tag1", 7 * 10**9, 9.5))
    t.join(timeout=40)
    assert not t.is_alive()
    assert got[0] == {"name": "tag1", "time": 1, "value": 1.5}
    assert got[1] == {"name": "tag1", "time": 7, "value": 9.5}


def test_client_facilities(server):
    c = Client(server)
    assert c.facilities("timers") == []
    assert c.facilities("subscribers") == []
    assert c.facilities("bridges") == []
    import pytest as _pytest
    with _pytest.raises(ValueError):
        c.facilities("shells")
