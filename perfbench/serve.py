"""The serving workload: ``python -m neo_server_spark serve`` driven over
HTTP by one closed-loop client in this process.

Every pass does a fixed amount of work.  Replies are kept and checked
after the pass, so checking costs no time inside it.  Reads are checked
against DuckDB over the same parquet files, writes against the
benchmark's own tally of acknowledged rows.
"""

from __future__ import annotations

import csv
import http.client
import io
import json
import math
import time
import urllib.parse
from dataclasses import dataclass, field

import numpy as np

EV_T0_NS = 1_704_067_200_000_000_000        # 2024-01-01T00:00:00Z
DAY_NS = 86_400 * 10**9
TAGS = ("click", "error", "purchase", "signup", "view")


class WrongAnswer(AssertionError):
    pass


@dataclass
class Op:
    kind: str
    method: str
    path: str
    body: bytes | None = None
    ctype: str | None = None
    check: object = None          # check(reply_bytes, note) -> None
    note: dict = field(default_factory=dict)


def request(port: int, op: Op, timeout: float = 120.0) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        headers = {"Content-Type": op.ctype} if op.ctype else {}
        conn.request(op.method, op.path, body=op.body, headers=headers)
        r = conn.getresponse()
        return r.status, r.read()
    finally:
        conn.close()


def query_path(sql: str, fmt: str = "json") -> str:
    return "/db/query?" + urllib.parse.urlencode({"q": sql, "format": fmt})


def rows_of(reply: bytes) -> list:
    doc = json.loads(reply)
    if not doc.get("success", False):
        raise WrongAnswer(f"not a success: {reply[:200]!r}")
    return doc["data"]["rows"]


def close(a: float, b: float, rel: float = 1e-9) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-9)


class Client:
    """One closed-loop client: sends ``ops`` in order, records each
    reply's latency by kind, and keeps the replies for checking."""

    def __init__(self, port: int):
        self.port = port
        self.samples: dict[str, list[float]] = {}
        self.attempted: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.replies: list[tuple[Op, bytes]] = []
        self.errors: list[str] = []       # wrong answers
        self.failures: list[str] = []     # requests that got no reply

    def send(self, op: Op) -> bytes | None:
        self.attempted[op.kind] = self.attempted.get(op.kind, 0) + 1
        t0 = time.perf_counter()
        try:
            status, data = request(self.port, op)
        except OSError as ex:
            status, data = -1, str(ex).encode()
        ms = (time.perf_counter() - t0) * 1000.0
        if status != 200:
            self.failed[op.kind] = self.failed.get(op.kind, 0) + 1
            self.failures.append(f"{op.kind}: HTTP {status} {data[:200]!r}")
            return None
        self.samples.setdefault(op.kind, []).append(ms)
        self.replies.append((op, data))
        return data

    def check(self) -> None:
        for op, data in self.replies:
            if op.check is None:
                continue
            try:
                op.check(data, op.note)
            except (WrongAnswer, ValueError, KeyError, IndexError,
                    TypeError) as ex:
                self.errors.append(f"{op.kind}: wrong answer: {ex}")
        self.replies.clear()

    def result(self) -> dict:
        return {"samples": self.samples, "attempted": self.attempted,
                "failed": self.failed, "errors": self.errors,
                "failures": self.failures}


# ---------------------------------------------------------------- serve_read


class ServeRead:
    """One client; a round is one request of each read kind, one small
    write into a parquet tag table under ``--fs-root`` and one batch into
    a table made by CREATE TAG TABLE.  Expected answers come from DuckDB
    over the input files and from the tally of acknowledged rows."""

    rounds_per_s = 0.35
    warmup_rounds = 2
    write_rows = 20
    ddl_rows = 200
    large_rows = 20_000
    n_ddl_tags = 8

    def __init__(self, seed: int, inputs: str, fs_root: str):
        rng = np.random.default_rng([seed, 1])
        self.seed, self.inputs, self.fs_root = seed, inputs, fs_root
        self.point_id = int(rng.integers(0, 100_000))
        self.user_max = int(rng.integers(200, 1000))
        self.tql_start = int(rng.integers(0, 100_000))
        self.raw_tag = TAGS[int(rng.integers(0, 5))]
        self.raw_day = int(rng.integers(0, 28))
        self.calc_tags = [TAGS[i] for i in sorted(
            rng.choice(5, size=2, replace=False).tolist())]
        self.calc_day = int(rng.integers(0, 24))
        self.write_seq = self.ddl_seq = 0
        self.acked: list[tuple[str, int, float]] = []
        self.ddl_acked: list[tuple[str, int, float]] = []
        self.table, self.ddl_table = "pb_write", "pb_ddl"
        self._expect()

    def _expect(self) -> None:
        import duckdb
        con = duckdb.connect()
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"'{self.inputs}/events.parquet'")
        q = con.execute
        self.exp_point = [list(r) for r in q(
            self.sql_point()).fetchall()]
        self.exp_group = [list(r) for r in q(self.sql_group()).fetchall()]
        self.exp_large = [list(r) for r in q(self.sql_large()).fetchall()]
        self.exp_tql = [[r[0], r[1] * 2, r[0] % 7] for r in q(
            f"SELECT event_id, value FROM events WHERE event_id >= "
            f"{self.tql_start} AND event_id < {self.tql_start + 200} "
            f"ORDER BY event_id").fetchall()]
        a, b = self.raw_range()
        self.exp_raw = sorted(q(
            f"SELECT strftime(ts, '%Y-%m-%d %H:%M:%S'), value FROM events "
            f"WHERE event_type = '{self.raw_tag}' AND epoch_ns(ts) BETWEEN "
            f"{a} AND {b}").fetchall())
        a, b = self.calc_range()
        tags = ",".join(f"'{t}'" for t in self.calc_tags)
        bucket = 6 * 3600 * 10**9
        self.exp_calc = {}
        for tag, t, s in q(
                f"SELECT event_type, strftime(make_timestamp(CAST("
                f"(epoch_ns(ts) // {bucket}) * {bucket} // 1000 AS BIGINT)),"
                f" '%Y-%m-%d %H:%M:%S') AS t, sum(value) FROM events "
                f"WHERE event_type IN ({tags}) AND epoch_ns(ts) BETWEEN "
                f"{a} AND {b} GROUP BY ALL ORDER BY 1, 2").fetchall():
            self.exp_calc.setdefault(tag, []).append((t, s))
        con.close()

    def sql_point(self) -> str:
        return (f"SELECT event_id, user_id, event_type, value FROM events "
                f"WHERE event_id = {self.point_id}")

    def sql_group(self) -> str:
        return (f"SELECT event_type, count(*) AS n, sum(value) AS s "
                f"FROM events WHERE user_id < {self.user_max} "
                f"GROUP BY event_type ORDER BY event_type")

    def sql_large(self) -> str:
        return (f"SELECT event_id, user_id, event_type, value FROM events "
                f"WHERE event_id < {self.large_rows} ORDER BY event_id")

    def raw_range(self) -> tuple[int, int]:
        a = EV_T0_NS + self.raw_day * DAY_NS
        return a, a + DAY_NS // 2

    def calc_range(self) -> tuple[int, int]:
        a = EV_T0_NS + self.calc_day * DAY_NS
        return a, a + 5 * DAY_NS

    # ---- checks

    def _check_point(self, data, _n):
        if rows_of(data) != self.exp_point:
            raise WrongAnswer(f"point {rows_of(data)} != {self.exp_point}")

    def _check_group(self, data, _n):
        got = rows_of(data)
        if len(got) != len(self.exp_group) or any(
                g[:2] != e[:2] or not close(g[2], e[2])
                for g, e in zip(got, self.exp_group)):
            raise WrongAnswer(f"group {got} != {self.exp_group}")

    def _check_large(self, data, _n):
        rd = list(csv.reader(io.StringIO(data.decode())))
        if rd[0] != ["event_id", "user_id", "event_type", "value"]:
            raise WrongAnswer(f"large csv header {rd[0]}")
        body = [r for r in rd[1:] if r]
        if len(body) != len(self.exp_large):
            raise WrongAnswer(f"large csv {len(body)} rows, "
                              f"expected {len(self.exp_large)}")
        for g, e in zip(body, self.exp_large):
            if (int(g[0]), int(g[1]), g[2], float(g[3])) != tuple(e):
                raise WrongAnswer(f"large csv row {g} != {e}")

    def _check_tql(self, data, _n):
        if rows_of(data) != self.exp_tql:
            raise WrongAnswer(f"tql rows differ: {rows_of(data)[:3]} vs "
                              f"{self.exp_tql[:3]}")

    def _check_raw(self, data, _n):
        doc = json.loads(data)
        s = doc["data"]["samples"]
        got = sorted((r["TIME"], r["VALUE"]) for r in s[0]["data"]) \
            if s else []
        if s and s[0]["tag_name"] != self.raw_tag or got != self.exp_raw:
            raise WrongAnswer(f"lake raw: {len(got)} rows, expected "
                              f"{len(self.exp_raw)}")

    def _check_calc(self, data, _n):
        doc = json.loads(data)
        got = {s["tag_name"]: [(r["TIME"], r["VALUE"]) for r in s["data"]]
               for s in doc["data"]["samples"]}
        if sorted(got) != sorted(self.exp_calc):
            raise WrongAnswer(f"lake calc tags {sorted(got)}")
        for tag, exp in self.exp_calc.items():
            g = got[tag]
            if len(g) != len(exp) or any(
                    a[0] != b[0] or not close(a[1], b[1])
                    for a, b in zip(g, exp)):
                raise WrongAnswer(f"lake calc {tag}: {g[:2]} vs {exp[:2]}")

    def _check_write(self, data, note):
        doc = json.loads(data)
        want = f"success, {len(note['rows'])} record(s) inserted"
        if not doc.get("success") or doc.get("reason") != want:
            raise WrongAnswer(f"write ack {doc}")
        note["acked"] += note["rows"]

    # ---- the round

    def round_ops(self) -> list[Op]:
        return self._read_ops() + [self._write_op(), self._ddl_write_op()]

    def _write_op(self) -> Op:
        rows = []
        for _ in range(self.write_rows):
            k = self.write_seq
            self.write_seq += 1
            rows.append((f"w{k % 4}", EV_T0_NS + 40 * DAY_NS + k * 10**9,
                         (k * 13 % 400) / 4.0))
        return self._post("write", self.table, rows, self.acked)

    def _ddl_write_op(self) -> Op:
        """A batch of a function of the seed into the CREATE TAG TABLE
        table; every such write rebuilds the whole table."""
        rng = np.random.default_rng([self.seed, self.ddl_seq])
        base = EV_T0_NS + self.ddl_seq * self.ddl_rows * 10**9
        self.ddl_seq += 1
        rows = [(f"tag{t}", base + i * 10**9, float(v)) for i, (t, v) in
                enumerate(zip(rng.integers(0, self.n_ddl_tags, self.ddl_rows),
                              rng.integers(0, 4000, self.ddl_rows) / 4.0))]
        return self._post("ddl_write", self.ddl_table, rows, self.ddl_acked)

    def _post(self, kind: str, table: str, rows, acked: list) -> Op:
        body = "".join(f"{n},{t},{v}\n" for n, t, v in rows).encode()
        return Op(kind, "POST", f"/db/write/{table}?format=csv", body,
                  "text/csv", check=self._check_write,
                  note={"rows": rows, "acked": acked})

    def prepare(self, port: int) -> list[str]:
        """Make the CREATE TAG TABLE table (untimed, before warm-up)."""
        c = Client(port)
        reply = c.send(Op("create", "GET", query_path(
            f"CREATE TAG TABLE {self.ddl_table} (name VARCHAR(40) PRIMARY "
            f"KEY, time DATETIME BASETIME, value DOUBLE SUMMARIZED)")))
        if reply is None or not json.loads(reply).get("success"):
            return [f"create table: {c.failures or reply}"]
        return []

    def _read_ops(self) -> list[Op]:
        a, b = self.raw_range()
        c, d = self.calc_range()
        tql = (f"SQL('SELECT event_id, value FROM events WHERE event_id >= "
               f"{self.tql_start} AND event_id < {self.tql_start + 200} "
               f"ORDER BY event_id')\n"
               f"MAPVALUE(1, value(1) * 2)\n"
               f"MAPVALUE(2, value(0) % 7)\n"
               f"JSON()")
        return [
            Op("q_point", "GET", query_path(self.sql_point()),
               check=self._check_point),
            Op("q_group", "GET", query_path(self.sql_group()),
               check=self._check_group),
            Op("q_large_csv", "GET",
               query_path(self.sql_large(), "csv"), check=self._check_large),
            Op("tql", "POST", "/web/api/tql", tql.encode(),
               "text/plain", check=self._check_tql),
            Op("lake_raw", "GET", "/lakes/values/raw?"
               + urllib.parse.urlencode({"tag_name": self.raw_tag,
                                         "start_time": a, "end_time": b}),
               check=self._check_raw),
            Op("lake_calc", "GET", "/lakes/values/calculated?"
               + urllib.parse.urlencode({
                   "tag_name": ",".join(self.calc_tags), "start_time": c,
                   "end_time": d, "calc_mode": "sum",
                   "interval_type": "HOUR", "interval_value": 6}),
               check=self._check_calc),
        ]

    def run_pass(self, port: int, rounds: int, _tag: str) -> dict:
        client = Client(port)
        t0 = time.perf_counter()
        for _ in range(rounds):
            for op in self.round_ops():
                client.send(op)
        wall = time.perf_counter() - t0
        client.check()
        return {**client.result(), "wall_s": wall}

    def final_check(self, port: int) -> list[str]:
        """Everything acknowledged is there: DuckDB reads the program's
        parquet files under fs_root back, and a query of the CREATE TAG
        TABLE table returns the acknowledged count and sum per tag."""
        c = Client(port)
        reply = c.send(Op("final_read", "GET", query_path(
            f"SELECT name, count(*) AS n, sum(value) AS s FROM "
            f"{self.ddl_table} GROUP BY name ORDER BY name")))
        errors = c.failures + (self.check_ddl(reply) if reply else [])
        return errors + self.check_files()

    def check_ddl(self, reply: bytes) -> list[str]:
        want: dict[str, list] = {}
        for name, _t, v in self.ddl_acked:
            w = want.setdefault(name, [0, 0.0])
            w[0] += 1
            w[1] += v
        got = {r[0]: [r[1], r[2]] for r in rows_of(reply)}
        if got != want:
            return [f"ddl table holds {got}, acknowledged {want}"]
        return []

    def check_files(self) -> list[str]:
        import duckdb
        acked = self.acked
        path = f"{self.fs_root}/{self.table}"
        con = duckdb.connect()
        try:
            n, s = con.execute(
                f"SELECT count(*), sum(value) FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning=true)").fetchone()
        finally:
            con.close()
        want_s = sum(v for _n, _t, v in acked)
        if n != len(acked) or not close(s or 0.0, want_s):
            return [f"write: {n} rows / sum {s} on disk, acknowledged "
                    f"{len(acked)} rows / sum {want_s}"]
        return []
