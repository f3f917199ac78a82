"""Characterization of the read endpoints that depend on catalog state.

The lake endpoints (/lakes/values/*, /lakes/tags, /lakes/inter/execquery)
read the TAG / TAG_STAT views and the dialect function; /db/query and TQL
SQL() read the TESTDATA views.  Their replies over sf0.001 are recorded in
``golden/catalog_characterization.json`` and must stay byte-equal, apart
from the ``elapse`` field, however those views are registered.

Re-record (only when an output is meant to change):

    python tests/test_catalog_characterization.py <path of the sf0.001 dataset>
"""

import json
import os
import re
import sys
import urllib.error
import urllib.parse
import urllib.request

import pytest

GOLDEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden",
                      "catalog_characterization.json")

T0 = 1704067200 * 10**9             # 2024-01-01T00:00:00Z
DAY = 86400 * 10**9


def _q(sql: str) -> str:
    return urllib.parse.quote(sql)


#: name -> (method, path, body)
CASES = {
    "lake_raw": ("GET", f"/lakes/values/raw?tag_name=click,view"
                        f"&start_time={T0}&end_time={T0 + DAY}&count=8",
                 None),
    "lake_raw_form1": ("GET", f"/lakes/values/raw?tag_name=error"
                                   f"&start_time={T0}&end_time={T0 + 3 * DAY}"
                                   f"&value_return_form=1", None),
    "lake_raw_columns": ("GET", f"/lakes/values/raw?tag_name=purchase"
                                f"&start_time={T0}&end_time={T0 + 2 * DAY}"
                                f"&columns=VALUE,USER_ID&aliases=v,u"
                                f"&count=5&date_format=YYYY-MM-DD", None),
    "lake_calculated": ("GET", f"/lakes/values/calculated"
                               f"?tag_name=click,error&start_time={T0}"
                               f"&end_time={T0 + 7 * DAY}&calc_mode=avg"
                               f"&interval_type=HOUR&interval_value=6"
                               f"&count=20", None),
    "lake_calculated_count": ("GET", f"/lakes/values/calculated"
                                       f"?tag_name=signup&start_time={T0}"
                                       f"&end_time={T0 + 30 * DAY}"
                                       f"&calc_mode=count&interval_type=HOUR"
                                       f"&interval_value=24", None),
    "lake_last": ("GET", f"/lakes/values/last?tag_name=click,view,error"
                         f"&start_time={T0}&end_time={T0 + 5 * DAY}", None),
    "lake_stat": ("GET", "/lakes/values/stat?tag_name=click,purchase", None),
    "lake_pivoted": ("GET", f"/lakes/values/pivoted?tag_name=click,view"
                            f"&start_time={T0}&end_time={T0 + 4 * DAY}"
                            f"&calc_mode=sum&interval_type=HOUR"
                            f"&interval_value=12", None),
    "lake_tags": ("GET", "/lakes/tags", None),
    "lake_tags_filtered": ("GET", "/lakes/tags?name=i&offset=1&limit=2",
                           None),
    "lake_execquery": ("POST", "/lakes/inter/execquery", {
        "sql": "SELECT NAME, count(*) AS N, round(sum(VALUE), 6) AS S "
               "FROM TAG GROUP BY NAME ORDER BY NAME"}),
    "lake_execquery_dialect": ("POST", "/lakes/inter/execquery", {
        "sql": "SELECT DATE_TRUNC('HOUR', TIME, 12) AS B, count(*) AS N "
               "FROM TAG WHERE NAME = 'view' GROUP BY 1 ORDER BY 1 "
               "LIMIT 6"}),
    "lake_execquery_stat": ("POST", "/lakes/inter/execquery", {
        "sql": "SELECT * FROM TAG_STAT ORDER BY 1"}),
    "db_query_group_json": ("GET", "/db/query?q=" + _q(
        "select o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) "
        "AS total from orders group by o_orderstatus order by 1")
        + "&format=json", None),
    "db_query_group_csv": ("GET", "/db/query?q=" + _q(
        "select o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) "
        "AS total from orders group by o_orderstatus order by 1")
        + "&format=csv", None),
    "db_query_lineitem_csv": ("GET", "/db/query?q=" + _q(
        "select * from lineitem order by l_orderkey, l_linenumber limit 25")
        + "&format=csv", None),
    "db_query_events_json": ("GET", "/db/query?q=" + _q(
        "select event_type, ts, value, props from events "
        "where event_type = ? order by ts limit 7")
        + "&p=" + _q('["view"]') + "&format=json&timeformat=ns", None),
    "db_query_join_json": ("GET", "/db/query?q=" + _q(
        "select n.n_name, count(*) AS c from customer c join nation n "
        "on c.c_nationkey = n.n_nationkey group by n.n_name "
        "order by c desc, n.n_name limit 5") + "&format=json", None),
    "tql_sql_csv": ("POST", "/web/api/tql",
                    "SQL(`select r_name, count(*) AS n from region r "
                    "join nation n on r.r_regionkey = n.n_regionkey "
                    "group by r_name order by r_name`)\nCSV()"),
}

_ELAPSE = re.compile(r'"elapse":"[^"]*"')


def _fetch(base: str, method: str, path: str, body) -> dict:
    data = None
    headers = {}
    if body is not None:
        if isinstance(body, dict):
            data = json.dumps(body).encode()
            headers["Content-Type"] = "application/json"
        else:
            data = body.encode()
            headers["Content-Type"] = "text/plain"
    req = urllib.request.Request(base + path, data=data, method=method,
                                 headers=headers)
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            status, ctype, text = (r.status, r.headers.get("Content-Type"),
                                   r.read().decode())
    except urllib.error.HTTPError as e:
        status, ctype, text = (e.code, e.headers.get("Content-Type"),
                               e.read().decode())
    return {"status": status, "ctype": ctype,
            "body": _ELAPSE.sub('"elapse":""', text)}


def _record(spark, sf_dir: str, fs_root: str) -> dict:
    from neo_server_spark.server.http_api import EngineHttpServer
    srv = EngineHttpServer(spark, sf_dir=sf_dir, fs_root=fs_root)
    port = srv.start()
    try:
        base = f"http://127.0.0.1:{port}"
        # every case twice: the second reply must not differ from the first
        return {name: [_fetch(base, *case), _fetch(base, *case)]
                for name, case in CASES.items()}
    finally:
        srv.stop()


@pytest.fixture(scope="module")
def replies(spark, sf_dir, tmp_path_factory):
    from neo_server_spark import io as nio
    from neo_server_spark.session import session_catalog
    from neo_server_spark.sqlx import ddl
    saved = dict(ddl._TABLES)
    ddl._TABLES.clear()
    try:
        yield _record(spark, sf_dir,
                      str(tmp_path_factory.mktemp("char_fs")))
    finally:
        ddl._TABLES.clear()
        ddl._TABLES.update(saved)
        # leave no view behind for the catalog-shape (SHOW TABLES) tests
        for name in (*nio.TABLES, "TAG", "TAG_STAT"):
            session_catalog(spark).drop_view(spark, name)


@pytest.mark.skipif(not os.path.isfile(GOLDEN), reason="no golden file")
@pytest.mark.parametrize("name", sorted(CASES))
def test_reply_matches_recording(replies, sf_dir, name):
    if os.path.basename(os.path.normpath(sf_dir)) != "sf0.001":
        pytest.skip("recorded over sf0.001")
    with open(GOLDEN) as f:
        want = json.load(f)[name]
    first, second = replies[name]
    assert first == want
    assert second == want


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    import tempfile

    from neo_server_spark.session import get_spark
    spark = get_spark(app_name="neo-spark-tests", master="local[4]",
                      shuffle_partitions=8)
    with tempfile.TemporaryDirectory() as fs_root:
        got = _record(spark, sys.argv[1], fs_root)
    for name, (a, b) in got.items():
        assert a == b, f"{name}: second reply differs from the first"
        assert a["status"] == 200, f"{name}: {a}"
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w") as f:
        json.dump({k: v[0] for k, v in got.items()}, f, indent=1,
                  sort_keys=True)
        f.write("\n")
    spark.stop()
