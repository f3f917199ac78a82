"""The per-session catalog registry (``session.SessionCatalog``).

Serving reads register TESTDATA views, the lake dialect's SQL function and
the TAG / TAG_STAT views only when their source changed; steady reads
make no catalog call.  A DDL table with a TESTDATA name shadows the view
until it is dropped, and lake reads follow writes to a DDL ``tag`` table.
"""

import json
import os
import urllib.parse
import urllib.request

import pytest
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.session import SparkSession

T0 = 1704067200 * 10**9             # 2024-01-01T00:00:00Z, inside sf0.001


@pytest.fixture()
def server(spark, sf_dir, tmp_path):
    from neo_server_spark.server.http_api import EngineHttpServer
    from neo_server_spark.sqlx import ddl
    saved = dict(ddl._TABLES)
    ddl._TABLES.clear()
    srv = EngineHttpServer(spark, sf_dir=sf_dir, fs_root=str(tmp_path))
    port = srv.start()
    yield f"http://127.0.0.1:{port}"
    srv.stop()
    for n in list(ddl._TABLES):
        ddl.drop_table(spark, n)
    ddl._TABLES.update(saved)


@pytest.fixture()
def catalog_calls(monkeypatch):
    """Counts temp-view registrations and CREATE FUNCTION statements."""
    calls = {"views": [], "functions": 0}
    view, sql = DataFrame.createOrReplaceTempView, SparkSession.sql

    def counted_view(self, name):
        calls["views"].append(name)
        return view(self, name)

    def counted_sql(self, query, *a, **kw):
        if "FUNCTION" in query.upper() and "CREATE" in query.upper():
            calls["functions"] += 1
        return sql(self, query, *a, **kw)

    monkeypatch.setattr(DataFrame, "createOrReplaceTempView", counted_view)
    monkeypatch.setattr(SparkSession, "sql", counted_sql)
    return calls


def get(url: str):
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.loads(r.read().decode())


def query(server: str, sql: str):
    q = urllib.parse.quote(sql)
    d = get(f"{server}/db/query?q={q}&format=json")
    assert d["success"], d
    return d["data"]["rows"]


def lake_raw(server: str, tag: str, count: int = 5):
    return get(f"{server}/lakes/values/raw?tag_name={tag}&start_time={T0}"
               f"&end_time={T0 + 30 * 86400 * 10**9}&count={count}")


def test_second_db_query_registers_nothing(server, catalog_calls):
    assert query(server, "select count(*) from orders") == [[1500]]
    catalog_calls["views"].clear()
    assert query(server, "select count(*) from lineitem") == [[6000]]
    assert catalog_calls["views"] == []


def test_second_lake_request_registers_nothing(server, catalog_calls):
    lake_raw(server, "click")
    get(f"{server}/lakes/values/stat?tag_name=view")
    catalog_calls["views"].clear()
    catalog_calls["functions"] = 0
    assert lake_raw(server, "view")["status"] == "success"
    assert get(f"{server}/lakes/values/stat?tag_name=click")[
        "status"] == "success"
    assert catalog_calls == {"views": [], "functions": 0}


def test_tag_plan_does_not_grow_over_lake_requests(server, spark):
    def tag_plan_nodes() -> int:
        return len(spark.table("TAG")._jdf.queryExecution().analyzed()
                   .treeString().splitlines())

    lake_raw(server, "click", count=1)
    first = tag_plan_nodes()
    for _ in range(299):
        assert lake_raw(server, "click", count=1)["status"] == "success"
    assert tag_plan_nodes() == first


def test_ddl_table_shadows_testdata_view_until_dropped(server, spark):
    from neo_server_spark.sqlx import ddl
    assert query(server, "select count(*) from orders") == [[1500]]
    ddl.exec_sql(spark, "CREATE TABLE orders (k varchar(10), v double)")
    ddl.exec_sql(spark, "INSERT INTO orders VALUES ('a', 1.5)")
    assert query(server, "select count(*) from orders") == [[1]]
    assert query(server, "select k, v from orders") == [["a", 1.5]]
    ddl.exec_sql(spark, "DROP TABLE orders")
    assert query(server, "select count(*) from orders") == [[1500]]


def test_lake_reads_follow_ddl_tag_table(server, spark):
    from neo_server_spark.sqlx import ddl
    assert lake_raw(server, "click")["data"]["samples"][0]["data"]
    ddl.exec_sql(spark, "CREATE TAG TABLE tag (name varchar(40) primary "
                        "key, time datetime basetime, "
                        "value double summarized)")
    ddl.exec_sql(spark, "INSERT INTO tag VALUES ('k1', ?, 1.5)", (T0 + 1,))
    rows = lake_raw(server, "k1")["data"]["samples"][0]["data"]
    assert [r["VALUE"] for r in rows] == [1.5]
    ddl.exec_sql(spark, "INSERT INTO tag VALUES ('k1', ?, 2.5)", (T0 + 2,))
    rows = lake_raw(server, "k1")["data"]["samples"][0]["data"]
    assert [r["VALUE"] for r in rows] == [1.5, 2.5]
    assert get(f"{server}/lakes/tags")["data"]["tag"] == ["k1"]
    ddl.exec_sql(spark, "DROP TABLE tag")
    assert "click" in get(f"{server}/lakes/tags")["data"]["tag"]
    assert lake_raw(server, "click")["data"]["samples"][0]["data"]


def test_registry_is_per_session_and_per_sf_dir(spark, sf_dir):
    from neo_server_spark import io as nio
    from neo_server_spark.session import session_catalog
    other = spark.newSession()
    assert session_catalog(other) is not session_catalog(spark)
    nio.register_views(other, sf_dir)
    assert other.sql("select count(*) from region").first()[0] == 5
    bigger = os.path.join(os.path.dirname(os.path.normpath(sf_dir)),
                          "sf0.01")
    if not os.path.isdir(bigger) or bigger == os.path.normpath(sf_dir):
        pytest.skip("needs a second scale factor beside the test one")
    n_small = other.sql("select count(*) from orders").first()[0]
    nio.register_views(other, bigger)
    n_big = other.sql("select count(*) from orders").first()[0]
    assert n_big > n_small
    nio.register_views(other, sf_dir)
    assert other.sql("select count(*) from orders").first()[0] == n_small


def test_tql_registered_table_wins_on_every_call(spark, sf_dir):
    from neo_server_spark.tql.pipeline import Tql
    t = Tql(spark, sf_dir=sf_dir)
    t.register("region", spark.range(2).selectExpr("id AS r_regionkey"))
    for _ in range(2):
        assert t.sql("select count(*) AS n from region") \
            .df.first()["n"] == 2
    # another reader on the session gets the TESTDATA view back
    assert Tql(spark, sf_dir=sf_dir).sql(
        "select count(*) AS n from region").df.first()["n"] == 5
