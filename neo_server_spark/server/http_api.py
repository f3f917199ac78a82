"""HTTP API front (reference: mods/server/http.go route table).

Implements the engine's three data endpoints over the Spark session,
stdlib-only (ThreadingHTTPServer — no web framework in the container):

- ``GET/POST /db/query``   — SQL pass-through (http_query.go:25-107,
  svrmsg.go:20-282): q/p/format/timeformat/tz/precision/rownum/heading/
  binaryformat/transpose/rowsFlatten/rowsArray/delimiter decode exactly
  like QueryRequest; fetch verbs render through the requested codec,
  non-fetch verbs execute and answer the Result envelope with
  spi.MakeUserMessage wording.
- ``GET/POST /web/api/tql`` — TQL script execution (http_tql.go): POST
  body is the script, query-string arguments become param() values.
- ``POST /db/write/<table>`` — row ingest (http_write.go:25-250):
  csv/json/ndjson payloads, ``method=insert|append``, ``header=skip``,
  ``timeformat``; answers ``success, N record(s) <method>ed``.
- ``GET /db/watch/<table>`` — table changes as server-sent events
  (http_query.go:109-200 handleWatchQuery over spi/watch.go): ``tag=``
  params watch a tag table (per-tag latest row), none watches a log
  table (arrival high-water mark); ``period``/``keep-alive``/
  ``max-rows``/``timeformat``/``tz`` decode like the reference.
- ``GET /web/api/tables[/:table/tags[/:tag/stat]]`` — the console data
  API (http_query.go:394-640): table list with name prefix/glob filter
  and showall physical parts, per-table tag list, per-tag stat row.
- ``/web/api/timers`` — the timer facility router (http.go:310-315,
  http_facility.go): list/get/add(POST)/update(PUT)/delete timers and
  POST :name/state START|STOP; a timer runs a .tql task under fs_root
  on an ``@every`` interval (mods/scheduler's cron-TIMER journey).
- ``/web/api/subscribers`` — the subscriber facility router
  (http_facility.go:811-1000 over sched_subs.go): the bridge is a
  directory queue under fs_root (each new file = one message — the
  broker connection itself is out of Spark scope); per message, a .tql
  task runs with TOPIC/MSGID params or a db/append write-descriptor
  ingests the payload, exactly the reference's per-message semantics.
- ``/web/api/bridges`` — the bridge facility router
  (http_facility.go:1064-1290): list/add/delete (+ subscriber-in-use
  guard) and POST :name/state test|query|exec; SQL types route through
  the JDBC BridgeRegistry, type ``dir`` is the directory queue.

Everything funnels through the SAME TqlRunner the text front-end uses —
``SQL(param('q'), param('p0')...)`` + the requested sink statement — so
query semantics, admin verbs (SHOW/DESC/EXPLAIN), engine-table DDL typing
and codec option behavior are identical between the HTTP surface and .tql
scripts, and q/p values can never inject statement text (they bind as
param() values, not source splices).

Spark-architecture note: this is a driver-side control-plane shim — the
heavy lifting stays in Catalyst jobs exactly as when the query arrives
through queries()/bench.  It exists so a reference user's curl/client
workflows keep working.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

_CONTENT_TYPES = {
    "json": "application/json",
    "csv": "text/csv; charset=utf-8",
    "ndjson": "application/x-ndjson",
    "markdown": "text/markdown",
    "html": "application/xhtml+xml",
    "text": "text/plain",
    "box": "text/plain",
}

#: sink statement per format (QueryRequest.Format -> codec.NewEncoder)
_SINKS = {"json": "JSON", "csv": "CSV", "ndjson": "NDJSON",
          "markdown": "MARKDOWN", "box": "BOX", "html": "HTML",
          "text": "TEXT"}

_STMT_CTYPE = {"JSON": "application/json", "CSV": "text/csv; charset=utf-8",
               "NDJSON": "application/x-ndjson",
               "MARKDOWN": "text/markdown", "HTML": "application/xhtml+xml",
               "TEXT": "text/plain", "BOX": "text/plain",
               "GEOMAP": "application/json"}


def _ident_ok(v: str) -> bool:
    """Option values spliced into the generated sink statement must be
    plain tokens (formats, layouts, zone names) — never quote characters."""
    return v is not None and "'" not in v and "\\" not in v and \
        "\n" not in v


def _epoch_ns(t) -> int:
    """A lake record's time as the TAG table's BIGINT holds it; a time
    outside that range fails its record."""
    n = int(t)
    if not -(1 << 63) <= n < 1 << 63:
        raise OverflowError(f"time {n} is out of BIGINT range")
    return n


class EngineHttpServer:
    """Threaded HTTP front over a SparkSession."""

    def __init__(self, spark, sf_dir: str | None = None,
                 fs_root: str | None = None, host: str = "127.0.0.1",
                 port: int = 0, backup_dir: str | None = None,
                 auth=None):
        # auth: an auth.Authenticator, or None = open server (the
        # reference's enableTokenAuth=false default, http.go:253)
        self.auth = auth
        self.spark = spark
        self.sf_dir = sf_dir
        self.fs_root = fs_root
        self.backup_dir = backup_dir
        self.host, self.port = host, port
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # backupd state (backupd.go backupState): one backup at a time,
        # status readable while it runs
        self._backup = {"running": False, "message": "", "err": None,
                        "info": {}}
        self._backup_lock = threading.Lock()
        self._closing = False
        # timer facility (mods/scheduler; /web/api/timers router)
        from neo_server_spark.streaming.scheduler import Scheduler
        self._sched = Scheduler()
        self._timer_meta: dict[str, dict] = {}
        self._sub_meta: dict[str, dict] = {}
        self._bridges: dict[str, dict] = {}
        self._timer_lock = threading.Lock()

    # ------------------------------------------------------------- control

    def start(self) -> int:
        api = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):   # quiet test runs
                pass

            def do_GET(self):
                api._route(self, body=b"")

            def do_POST(self):
                n = int(self.headers.get("Content-Length") or 0)
                api._route(self, body=self.rfile.read(n))

            def do_DELETE(self):
                api._route(self, body=b"")

            def do_PUT(self):
                n = int(self.headers.get("Content-Length") or 0)
                api._route(self, body=self.rfile.read(n))

        self._httpd = ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self._closing = True
        self._sched.stop_all()
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None

    # -------------------------------------------------------------- routes

    def _route(self, h: BaseHTTPRequestHandler, body: bytes) -> None:
        tick = time.time()
        url = urlparse(h.path)
        qs = {k: v[-1] for k, v in parse_qs(url.query).items()}
        try:
            if self.auth is not None and \
                    self._auth_gate(h, url.path, body, qs, tick):
                return
            if url.path in ("/db/query", "/web/api/query",
                            "/web/api/machbase"):
                # /web/api/query is the same handler (http.go:295,352);
                # /web/api/machbase is its deprecated alias (http.go:292)
                self._handle_query(h, qs, body, tick)
            elif url.path.startswith("/db/watch/"):
                # SSE table watch (http_query.go:109-200 handleWatchQuery)
                tags = parse_qs(url.query).get("tag", [])
                self._handle_watch(h, url.path[len("/db/watch/"):],
                                   tags, qs, tick)
            elif url.path.startswith("/db/write/"):
                self._handle_write(h, url.path[len("/db/write/"):],
                                   qs, body, tick)
            elif url.path in ("/web/api/tql", "/web/api/tql/"):
                self._handle_tql(h, qs, body, tick)
            elif url.path.startswith("/lakes/values/") or \
                    url.path == "/lakes/values":
                dtype = url.path[len("/lakes/values/"):] \
                    if url.path.startswith("/lakes/values/") else ""
                if h.command == "POST":
                    self._handle_lake_post(h, dtype, body, tick)
                else:
                    self._handle_lake_values(h, dtype, qs, tick)
            elif url.path == "/lakes/tags":
                self._handle_lake_tags(h, qs, tick)
            elif url.path == "/lakes/inter/execquery":
                self._handle_lake_exec(h, qs, body, tick)
            elif url.path == "/web/api/timers" or \
                    url.path.startswith("/web/api/timers/"):
                self._handle_timers(
                    h, url.path[len("/web/api/timers"):].strip("/"),
                    body, tick)
            elif url.path == "/web/api/subscribers" or \
                    url.path.startswith("/web/api/subscribers/"):
                self._handle_subscribers(
                    h, url.path[len("/web/api/subscribers"):].strip("/"),
                    body, tick)
            elif url.path == "/web/api/bridges" or \
                    url.path.startswith("/web/api/bridges/"):
                self._handle_bridges(
                    h, url.path[len("/web/api/bridges"):].strip("/"),
                    body, tick)
            elif url.path == "/web/api/tables" or \
                    url.path.startswith("/web/api/tables/"):
                self._handle_api_tables(
                    h, url.path[len("/web/api/tables"):].strip("/"),
                    qs, tick)
            elif url.path.startswith("/metrics/"):
                self._handle_metrics(h, url.path[len("/metrics/"):],
                                     qs, body, tick)
            elif url.path.startswith("/web/api/backup/"):
                self._handle_backup(h, url.path[len("/web/api/backup/"):],
                                    qs, body, tick)
            elif url.path.startswith("/web/api/tql/"):
                # script loaded from the server-side fs (loader.go:53;
                # handleTqlFile) — rooted at fs_root, no path escapes
                self._handle_tql_file(h, url.path[len("/web/api/tql/"):],
                                      qs, body, tick)
            else:
                self._fail(h, 404, "not found", tick)
        except Exception as ex:   # one handler crash must not kill the server
            self._fail(h, 500, str(ex), tick)

    def _fail(self, h, status: int, reason: str, tick: float) -> None:
        payload = json.dumps(
            {"success": False, "reason": reason,
             "elapse": f"{time.time() - tick:.6f}s"},
            separators=(",", ":")).encode()
        h.send_response(status)
        h.send_header("Content-Type", "application/json")
        h.send_header("Content-Length", str(len(payload)))
        h.end_headers()
        h.wfile.write(payload)

    def _send(self, h, status: int, ctype: str, text: str,
              compress: str | None = None) -> None:
        data = text.encode() if isinstance(text, str) else text
        h.send_response(status)
        h.send_header("Content-Type", ctype)
        if compress == "gzip":    # QueryRequest.Compress (svrmsg.go:165)
            import gzip as _gz
            data = _gz.compress(data)
            h.send_header("Content-Encoding", "gzip")
        h.send_header("Content-Length", str(len(data)))
        h.end_headers()
        h.wfile.write(data)

    # ---------------------------------------------------------------- auth
    # login/relogin/logout/check/chpasswd/keys + the two middlewares
    # (handleJwtToken http.go:393-445, handleAuthToken http.go:458-497)

    def _bearer(self, h) -> str | None:
        v = h.headers.get("Authorization") or ""
        return v[7:].strip() if v[:7].upper() == "BEARER " else None

    def _auth_gate(self, h, path: str, body: bytes, qs: dict,
                   tick: float) -> bool:
        """True = request fully handled here (auth endpoint or a 401);
        False = authorized, fall through to the normal dispatch."""
        from neo_server_spark.server.auth import AuthError

        if path in ("/web/api/login", "/web/api/relogin",
                    "/web/api/logout", "/web/api/check",
                    "/web/api/chpasswd") or \
                path == "/web/api/keys" or \
                path.startswith("/web/api/keys/"):
            self._handle_auth(h, path, body, tick)
            return True
        if path.startswith("/web/"):
            tok = self._bearer(h)
            if tok is None:
                self._fail(h, 401, "missing authorization header", tick)
                return True
            try:
                claim = self.auth.verify_access(tok)
            except AuthError as ex:
                self._fail(h, 401, ex.reason, tick)
                return True
            h.jwt_claim = claim
            return False
        # /db /lakes /metrics: a client API key as Bearer or ?token=
        # (handleAuthToken); a web session's access JWT also passes
        tok = self._bearer(h) or qs.get("token") or ""
        if tok and self.auth.validate_client_token(tok):
            return False
        if tok:
            try:
                self.auth.verify_access(tok)
                return False
            except AuthError:
                pass
        self._fail(h, 401,
                   "missing authorization token" if not tok
                   else "missing valid token", tick)
        return True

    def _handle_auth(self, h, path: str, body: bytes,
                     tick: float) -> None:
        from neo_server_spark.server.auth import AuthError

        def ok(extra=None, status=200):
            payload = {"success": True, "reason": "success"}
            payload.update(extra or {})
            payload["elapse"] = f"{time.time() - tick:.6f}s"
            self._send(h, status, "application/json",
                       json.dumps(payload, separators=(",", ":")))

        req = {}
        if body:
            try:
                req = json.loads(body.decode() or "{}")
            except ValueError:
                return self._fail(h, 400, "invalid json body", tick)
        try:
            if path == "/web/api/login" and h.command == "POST":
                name = str(req.get("loginName") or "")
                if not name:
                    return self._fail(
                        h, 400, "missing required loginName field", tick)
                try:
                    access, refresh = self.auth.login(
                        name, str(req.get("password") or ""))
                except AuthError as ex:
                    return self._fail(h, 404, ex.reason, tick)
                return ok({"accessToken": access,
                           "refreshToken": refresh})
            if path == "/web/api/relogin" and h.command == "POST":
                # expired ACCESS tokens are allowed through for this
                # path (http.go:421); the refresh token is the gate
                access, refresh = self.auth.relogin(
                    str(req.get("refreshToken") or ""))
                return ok({"accessToken": access,
                           "refreshToken": refresh})
            if path == "/web/api/logout" and h.command == "POST":
                self.auth.logout(str(req.get("refreshToken") or ""))
                return ok()
            # everything below sits BEHIND the jwt middleware
            tok = self._bearer(h)
            if tok is None:
                return self._fail(h, 401,
                                  "missing authorization header", tick)
            claim = self.auth.verify_access(tok)
            if path == "/web/api/check":
                return ok()
            if path == "/web/api/chpasswd" and h.command == "POST":
                new = str(req.get("newPassword") or "")
                if not new or "'" in new:
                    return self._fail(h, 400, "invalid new password",
                                      tick)
                self.auth.set_password(claim["sub"], new)
                return ok()
            if path == "/web/api/keys" and h.command == "GET":
                return ok({"data": [
                    {"idx": k["idx"], "id": k["id"],
                     "notBefore": k["notBefore"],
                     "notAfter": k["notAfter"]}
                    for k in self.auth.list_keys()]})
            if path == "/web/api/keys" and h.command == "POST":
                rec = self.auth.gen_key(
                    str(req.get("name") or ""),
                    int(req.get("notBefore") or 0),
                    int(req.get("notAfter") or 0))
                return ok({"token": rec["token"], "id": rec["id"],
                           "notBefore": rec["notBefore"],
                           "notAfter": rec["notAfter"]})
            if path.startswith("/web/api/keys/") and \
                    h.command == "DELETE":
                if self.auth.del_key(path[len("/web/api/keys/"):]):
                    return ok()
                return self._fail(h, 404, "key not found", tick)
        except AuthError as ex:
            return self._fail(h, 401, ex.reason, tick)
        return self._fail(h, 404, "not found", tick)

    # ------------------------------------------------------------ /db/query

    def _handle_query(self, h, qs: dict, body: bytes, tick: float) -> None:
        from neo_server_spark.tql.script import TqlRunner
        req = dict(qs)
        if body:
            ctype = h.headers.get("Content-Type", "")
            if "json" in ctype:
                req.update(json.loads(body.decode() or "{}"))
            elif "form" in ctype:
                req.update({k: v[-1] for k, v in
                            parse_qs(body.decode()).items()})
        q = str(req.get("q") or "").strip()
        if not q:
            return self._fail(h, 400, "sql text is empty", tick)
        params = req.get("p")
        if isinstance(params, str):
            params = json.loads(params) if params.strip() else []
        params = list(params or [])
        fmt = str(req.get("format") or "json").lower()
        sink = _SINKS.get(fmt)
        if sink is None:
            return self._fail(h, 400, f"unsupported format {fmt!r}", tick)
        opts = self._sink_opts(req, fmt)
        bind = {"q": q}
        pargs = []
        for i, p in enumerate(params):
            bind[f"p{i}"] = p
            pargs.append(f", param('p{i}')")
        script = f"SQL(param('q'){''.join(pargs)})\n{sink}({opts})"
        verb = q.split()[0].upper()
        exec_verbs = ("INSERT", "UPDATE", "DELETE", "CREATE", "DROP",
                      "ALTER", "EXEC", "BACKUP", "RESTORE", "MOUNT",
                      "UNMOUNT")
        if verb in exec_verbs:
            # non-fetch: db-sink form; the Result envelope IS the body
            # (http_query.go:812 renders result JSON for exec verbs)
            script = f"FAKE(once(1))\nSQL(param('q'){''.join(pargs)})"
        runner = TqlRunner(self.spark, sf_dir=self.sf_dir,
                           fs_root=self.fs_root, params=bind)
        try:
            out = runner.run(script)
        except Exception as ex:
            return self._fail(h, 500, str(ex), tick)
        ct = (_CONTENT_TYPES["json"]
              if verb in exec_verbs else _CONTENT_TYPES[fmt])
        compress = str(req.get("compress") or "") or None
        self._send(h, 200, ct, out if isinstance(out, str) else "",
                   compress=compress if compress == "gzip" else None)

    def _sink_opts(self, req: dict, fmt: str) -> str:
        def b(name):
            v = str(req.get(name, "")).lower()
            return v in ("1", "true", "t", "yes")
        opts = []
        tf = req.get("timeformat")
        if tf and _ident_ok(str(tf)):
            opts.append(f"timeformat('{tf}')")
        tz = req.get("tz")
        if tz and _ident_ok(str(tz)):
            opts.append(f"tz('{tz}')")
        try:
            prec = int(req.get("precision", -1))
        except (TypeError, ValueError):
            prec = -1
        if prec >= 0:
            opts.append(f"precision({prec})")
        if b("rownum"):
            opts.append("rownum(true)")
        bf = req.get("binaryformat")
        if bf and _ident_ok(str(bf)):
            opts.append(f"binaryformat('{bf}')")
        if fmt == "csv":
            heading = True
            if "heading" in req:
                heading = b("heading")
            if str(req.get("header", "")) == "skip":
                heading = False
            opts.append(f"header({'true' if heading else 'false'})")
            d = req.get("delimiter")
            if d and _ident_ok(str(d)) and len(str(d)) == 1:
                opts.append(f"delimiter('{d}')")
        if fmt == "json":
            for name in ("transpose", "rowsFlatten", "rowsArray"):
                if b(name):
                    opts.append(f"{name}(true)")
        return ", ".join(opts)

    # --------------------------------------------------------- /web/api/tql

    def _handle_tql(self, h, qs: dict, body: bytes, tick: float) -> None:
        from neo_server_spark.tql.script import TqlRunner
        src = body.decode() if body else ""
        if not src.strip():
            return self._fail(h, 400, "empty tql script", tick)
        runner = TqlRunner(self.spark, sf_dir=self.sf_dir,
                           fs_root=self.fs_root, params=qs)
        try:
            out = runner.run(src)
        except Exception as ex:
            return self._fail(h, 500, str(ex), tick)
        if not isinstance(out, str):   # sink-less script: JSON envelope
            from neo_server_spark.codecs import encoders
            out = encoders.to_json_envelope(out)
            ct = "application/json"
        else:
            ct = _STMT_CTYPE.get(runner.last_stmt or "", "text/plain")
        self._send(h, 200, ct, out)

    def _handle_tql_file(self, h, rel: str, qs: dict, body: bytes,
                         tick: float) -> None:
        import os
        root = os.path.abspath(self.fs_root or ".")
        path = os.path.abspath(os.path.join(root, rel))
        if not (path.startswith(root + os.sep) or path == root) \
                or not path.endswith(".tql"):
            return self._fail(h, 404, "not found", tick)
        if not os.path.isfile(path):
            return self._fail(h, 404, f"tql not found: {rel}", tick)
        with open(path) as f:
            src = f.read()
        from neo_server_spark.tql.script import TqlRunner
        runner = TqlRunner(self.spark, sf_dir=self.sf_dir,
                           fs_root=self.fs_root, params=qs,
                           payload=body.decode() if body else None)
        try:
            out = runner.run(src)
        except Exception as ex:
            return self._fail(h, 500, str(ex), tick)
        if not isinstance(out, str):
            from neo_server_spark.codecs import encoders
            out = encoders.to_json_envelope(out)
            ct = "application/json"
        else:
            ct = _STMT_CTYPE.get(runner.last_stmt or "", "text/plain")
        self._send(h, 200, ct, out)

    # ------------------------------------------------------- /lakes/values

    def _lake_tag_df(self):
        """The base frame of the lake endpoints' TAG view: the DDL table
        named ``tag`` when one exists (a new frame after each write to
        it), else the canonical events mapping, one frame per session.
        It never reads the TAG view itself, so TAG is never rebuilt from
        its own previous plan, and ``register_lake_views`` re-registers
        only when this frame changes."""
        from neo_server_spark import io as nio
        from neo_server_spark.sqlx import ddl
        if ddl.has_table("tag"):
            return ddl.table_frame("tag")
        return nio.events_as_tag(self.spark, self.sf_dir)

    def _handle_lake_values(self, h, dtype: str, qs: dict,
                            tick: float) -> None:
        """GET /lakes/values/:type (http_lake.go:301-328 dispatch):
        raw | calculated | group | last | current | pivoted | stat.
        Parameters decode like the reference's SelectRaw/SelectCalc binds
        (tag_name, start_time/end_time epoch-ns, columns/aliases,
        calc_mode, interval_type/value, date_format, value_return_form,
        direction, offset, count)."""
        import json as _json

        from neo_server_spark.sqlx import lake
        from neo_server_spark.sqlx.dialect import lake_sql
        sep = qs.get("separator") or ","
        tags = [t for t in (qs.get("tag_name") or "").split(sep) if t]
        if not tags and dtype not in ("current",):
            return self._lake_fail(h, 422,
                                   "Wrong Parameter. (tagname) : must be "
                                   "a least 1", tick)
        if len(tags) > lake.LIMIT_SELECT_TAG:
            return self._lake_fail(
                h, 422, f"tag count over. (parameter:{len(tags)}, "
                        f"Available:{lake.LIMIT_SELECT_TAG})", tick)
        fmt = qs.get("value_return_form", "0")
        if fmt not in ("0", "1"):
            return self._lake_fail(
                h, 412, "Wrong Parameter. (value_return_form) : must be "
                        "0,1", tick)
        df_fmt = qs.get("date_format") or "YYYY-MM-DD HH24:MI:SS"
        kw = dict(date_format=df_fmt)
        try:
            start = int(qs.get("start_time", 0))
            end = int(qs.get("end_time", 0))
            if dtype == "raw":
                cols = [c for c in (qs.get("columns") or "").split(sep)
                        if c] or None
                als = [a for a in (qs.get("aliases") or "").split(sep)
                       if a] or None
                if als and cols and len(als) != len(cols):
                    return self._lake_fail(
                        h, 422, "The number of 'columns' and 'aliases' "
                                "is different", tick)
                sql = lake.raw_sql(tags, start, end, columns=cols,
                                   aliases=als,
                                   direction=qs.get("direction"),
                                   offset=qs.get("offset"),
                                   limit=qs.get("count"), **kw)
                mode = "raw"
            elif dtype in ("calculated", "group"):
                sql = lake.calc_sql(
                    tags, start, end,
                    calc_mode=qs.get("calc_mode", "AVG"),
                    interval_type=qs.get("interval_type", "SEC"),
                    interval_value=int(qs.get("interval_value", 1)),
                    offset=qs.get("offset"), limit=qs.get("count"), **kw)
                mode = qs.get("calc_mode", "AVG").lower()
            elif dtype == "last":
                sql = lake.last_sql(tags, start, end, **kw)
                mode = "last"
            elif dtype == "current":
                sql = lake.current_sql(qs.get("tag_name") or "", **kw)
                mode = "current"
            elif dtype == "pivoted":
                sql = lake.pivot_sql(
                    tags, start, end,
                    calc_mode=qs.get("calc_mode", "AVG"),
                    interval_type=qs.get("interval_type", "SEC"),
                    interval_value=int(qs.get("interval_value", 1)), **kw)
                mode = qs.get("calc_mode", "AVG").lower()
            elif dtype == "stat":
                sql = lake.stat_sql(tags, offset=qs.get("offset"),
                                    limit=qs.get("count"), **kw)
                mode = "stat"
            else:
                return self._lake_fail(h, 400,
                                       "This type is not available", tick)
            lake.register_lake_views(self.spark, self._lake_tag_df())
            df = lake_sql(self.spark, sql)
            data = lake.select_return(df, mode, fmt, tags)
        except ValueError as ex:
            return self._lake_fail(h, 422, str(ex), tick)
        except Exception as ex:
            return self._lake_fail(h, 424, str(ex), tick)
        payload = _json.dumps({"status": "success", "data": data},
                              separators=(",", ":"), default=str)
        self._send(h, 200, "application/json", payload)

    def _handle_lake_tags(self, h, qs: dict, tick: float) -> None:
        """GET /lakes/tags (handleLakeGetTagList): tag names, optional
        LIKE filter + offset/limit."""
        import json as _json
        name = qs.get("name") or ""
        tag_df = self._lake_tag_df()
        from pyspark.sql import functions as F
        names = tag_df.select(F.col(tag_df.columns[0]).alias("NAME")) \
            .distinct()
        if name:
            names = names.filter(
                F.col("NAME").like(f"%{name}%"))
        names = names.orderBy("NAME")
        off = int(qs.get("offset", 0))
        lim = int(qs.get("limit") or 0) or 10000
        rows = [r["NAME"] for r in names.offset(off).limit(lim).collect()]
        payload = _json.dumps(
            {"status": "success", "data": {"tag": rows}},
            separators=(",", ":"))
        self._send(h, 200, "application/json", payload)

    def _handle_lake_post(self, h, dtype: str, body: bytes,
                          tick: float) -> None:
        """POST /lakes/values[/:type] (handleLakePostValues,
        http_lake.go:2248-2343): 'standard' = {tag_name, date_format,
        values:[[time, value]..]}; default = {values:[{Tag, Ts, Val}..]};
        rows append to the TAG table; response = the appender's
        {success, fail} counts in the lakeRsp envelope."""
        import json as _json
        try:
            req = _json.loads(body.decode() or "{}")
        except ValueError as ex:
            return self._lake_post_fail(h, 412, str(ex), tick)
        values = req.get("values") or []
        if not values:
            return self._lake_post_fail(h, 412, "values is empty", tick)
        rows, fail = [], 0
        if dtype == "standard":
            tag = req.get("tag_name") or ""
            fmtjava = None
            for rec in values:
                try:
                    t, v = rec[0], rec[1]
                    if isinstance(t, str):
                        import datetime as _dt

                        from neo_server_spark.functions.timefn import (
                            go_layout_to_java, sql_timeformat_to_layout)
                        if fmtjava is None:
                            fmtjava, _d, _t2 = go_layout_to_java(
                                sql_timeformat_to_layout(
                                    req.get("date_format")
                                    or "YYYY-MM-DD HH24:MI:SS"))
                        py = (fmtjava.replace("yyyy", "%Y")
                              .replace("MM", "%m").replace("dd", "%d")
                              .replace("HH", "%H").replace("mm", "%M")
                              .replace("ss", "%S"))
                        ts = int(_dt.datetime.strptime(t, py)
                                 .replace(tzinfo=_dt.timezone.utc)
                                 .timestamp() * 1e9)
                    else:
                        ts = int(t)
                    rows.append((tag, _epoch_ns(ts), float(v)))
                except Exception:
                    fail += 1
        else:
            for rec in values:
                try:
                    rows.append((str(rec["Tag"]), _epoch_ns(rec["Ts"]),
                                 float(rec["Val"])))
                except Exception:
                    fail += 1
        succ = 0
        if rows:
            from neo_server_spark import io as nio
            succ = nio.append_tag_rows(
                self.spark, (self.fs_root or "/tmp") + "/TAG",
                ["name", "time", "value"], rows)
        payload = _json.dumps(
            {"success": True, "reason": "success",
             "data": {"success": succ, "fail": fail}},
            separators=(",", ":"))
        self._send(h, 200, "application/json", payload)

    def _handle_lake_exec(self, h, qs: dict, body: bytes,
                          tick: float) -> None:
        """POST /lakes/inter/execquery (handleLakeExecQuery,
        http_lake.go:2345-2376): arbitrary SQL through the lake dialect;
        rows return as per-column maps inside the ExecResult envelope."""
        import json as _json

        from neo_server_spark.sqlx import lake
        from neo_server_spark.sqlx.dialect import lake_sql
        try:
            req = _json.loads(body.decode() or "{}") if body else {}
        except ValueError:
            req = {}
        sql = req.get("sql") or qs.get("sql") or ""
        if not sql.strip():
            return self._lake_fail(h, 412, "data is wrong. check data.",
                                   tick)
        try:
            lake.register_lake_views(self.spark, self._lake_tag_df())
            df = lake_sql(self.spark, sql)
            cols = df.columns
            data = [dict(zip(cols, r)) for r in df.collect()]
        except Exception as ex:
            return self._lake_fail(h, 424, str(ex), tick)
        payload = _json.dumps(
            {"status": "success",
             "data": {"columns": [{"name": c.upper(), "type": 0,
                                   "length": 0} for c in cols],
                      "data": data, "error_code": 0,
                      "error_message": ""}},
            separators=(",", ":"), default=str)
        self._send(h, 200, "application/json", payload)

    def _lake_post_fail(self, h, status: int, reason: str,
                        tick: float) -> None:
        import json as _json
        payload = _json.dumps({"success": False, "reason": reason},
                              separators=(",", ":"))
        self._send(h, status, "application/json", payload)

    def _handle_metrics(self, h, oper: str, qs: dict, body: bytes,
                        tick: float) -> None:
        """POST /metrics/write (handleLineProtocol/handleLineWrite,
        http_write.go:466-580): Influx line protocol into the ``db``
        tag table; ``precision`` ns|us|ms scales the timestamps; success
        is 204 No Content like the influx write API."""
        import json as _json
        if h.command != "POST" or oper != "write":
            payload = _json.dumps(
                {"error": f"{h.command} {oper} is not implemented"},
                separators=(",", ":")).encode()
            return self._send(h, 501, "application/json", payload)
        table = qs.get("db") or "tag"
        mult = {"ns": 1, "us": 1000, "ms": 1000000}.get(
            qs.get("precision", "ns"), 1)
        from pyspark.sql import functions as F

        from neo_server_spark import io as nio
        from neo_server_spark.streaming.ingest import decode_line_protocol
        lines = [(ln,) for ln in body.decode().splitlines() if ln.strip()]
        if not lines:
            payload = _json.dumps({"error": "no timestamp"},
                                  separators=(",", ":")).encode()
            return self._send(h, 400, "application/json", payload)
        df = self.spark.createDataFrame(lines, "value string")
        rows = decode_line_protocol(df)
        if mult != 1:
            rows = rows.withColumn("time", F.col("time") * mult)
        path = (self.fs_root or "/tmp") + "/" + table
        nio.write_tag_table(rows, path, mode="append")
        self._send(h, 204, "application/json", "")

    def _lake_fail(self, h, status: int, message: str,
                   tick: float) -> None:
        import json as _json
        payload = _json.dumps({"status": "fail", "message": message},
                              separators=(",", ":"))
        self._send(h, status, "application/json", payload)

    # ------------------------------------------------------ /db/write/<tbl>

    def _handle_write(self, h, table: str, qs: dict, body: bytes,
                      tick: float) -> None:
        method = str(qs.get("method", "insert")).lower()
        fmt = str(qs.get("format", "csv")).lower()
        heading = str(qs.get("header", "")) == "columns" or \
            str(qs.get("heading", "")).lower() in ("1", "true")
        text = body.decode()
        rows, cols = [], None
        if fmt == "csv":
            import csv as _csv
            import io as _io
            rd = list(_csv.reader(_io.StringIO(text)))
            if rd and heading:
                cols, rd = [c.strip() for c in rd[0]], rd[1:]
            rows = [tuple(r) for r in rd if r]
        elif fmt == "ndjson":
            for line in text.splitlines():
                if not line.strip():
                    continue
                o = json.loads(line)
                cols = cols or list(o)
                rows.append(tuple(o.get(c) for c in cols))
        elif fmt == "json":
            o = json.loads(text)
            if isinstance(o, dict) and "data" in o:   # envelope form
                cols = o["data"].get("columns")
                rows = [tuple(r) for r in o["data"]["rows"]]
            else:
                rows = [tuple(r) for r in o]
        else:
            return self._fail(h, 400, f"unsupported format {fmt!r}", tick)
        if not rows:
            return self._fail(h, 400, "no records", tick)
        try:
            n = self._ingest(table, cols, rows)
        except Exception as ex:
            return self._fail(h, 500, str(ex), tick)
        payload = json.dumps(
            {"success": True,
             "reason": f"success, {n} record(s) {method}ed",
             "elapse": f"{time.time() - tick:.6f}s"},
            separators=(",", ":")).encode()
        self._send(h, 200, "application/json", payload)

    def _ingest(self, table: str, cols, rows) -> int:
        """Route parsed rows into the target: DDL engine tables through the
        catalog (per-column machbase coercion), tag-shaped rows appended
        to the parquet tag table by the driver-side Arrow appender
        (``io.append_tag_rows``, no Spark job — http_write.go's in-process
        appender path), any other shape appended as plain parquet."""
        from neo_server_spark.sqlx import ddl
        if ddl.has_table(table):
            t = ddl._TABLES[table.lower()]
            cs = cols or [c for c, _m, _s in t["cols"]][: len(rows[0])]
            return ddl.insert_rows(self.spark, table, cs, rows)
        from neo_server_spark import io as nio
        cs = cols or ["name", "time", "value"][: len(rows[0])]
        path = (self.fs_root or "/tmp") + "/" + table
        if {"name", "time", "value"} <= set(cs):
            return nio.append_tag_rows(self.spark, path, cs, rows)
        df = self.spark.createDataFrame([tuple(r) for r in rows], cs)
        df.write.mode("append").parquet(path)
        return len(rows)

    # -------------------------------------------------- /web/api/timers/*

    def _timer_job(self, name: str):
        """The reference timer task: run a .tql script under fs_root
        (mods/scheduler/sched_timer.go — a TIMER entry's Task is a tql
        path executed per firing).  Output is discarded; errors land on
        the entry's last_error like the reference's schedule state."""
        import os

        from neo_server_spark.tql.script import TqlRunner

        def job():
            meta = self._timer_meta.get(name)
            if meta is None:
                return
            root = os.path.abspath(self.fs_root or ".")
            path = os.path.abspath(os.path.join(root, meta["task"]))
            if not (path.startswith(root + os.sep) and
                    path.endswith(".tql") and os.path.isfile(path)):
                raise FileNotFoundError(f"tql not found: {meta['task']}")
            with open(path) as f:
                src = f.read()
            TqlRunner(self.spark, sf_dir=self.sf_dir,
                      fs_root=self.fs_root).run(src)
        return job

    def _timer_schedule(self, name: str) -> dict | None:
        meta = self._timer_meta.get(name)
        if meta is None:
            return None
        st = next((e for e in self._sched.entries()
                   if e["name"] == name), {})
        return {"name": name, "type": "TIMER",
                "state": st.get("state", "STOP"),
                "autoStart": meta["autoStart"],
                "schedule": meta["schedule"], "task": meta["task"]}

    def _handle_timers(self, h, rest: str, body: bytes,
                       tick: float) -> None:
        """The timer facility router (http.go:310-315 over
        http_facility.go:19-230): list/get/add/update/delete timers and
        start/stop state — a timer runs a .tql script on an ``@every``
        interval, the reference's cron-TIMER journey."""
        from neo_server_spark.functions.timefn import parse_duration

        def ok(data=None, status=200):
            payload = {"success": True, "reason": "success",
                       "elapse": f"{time.time() - tick:.6f}s"}
            if data is not None:
                payload["data"] = data
            self._send(h, status, "application/json",
                       json.dumps(payload, separators=(",", ":")))

        def interval_of(spec: str) -> float:
            s = (spec or "").strip()
            if s.startswith("@every"):
                s = s[len("@every"):].strip()
            return max(parse_duration(s) / 1e9, 0.001)

        parts = [p for p in rest.split("/") if p]
        with self._timer_lock:
            if not parts:
                if h.command == "GET":            # list
                    return ok([self._timer_schedule(n)
                               for n in sorted(self._timer_meta)])
                if h.command == "POST":           # add
                    req = json.loads(body.decode() or "{}")
                    name = str(req.get("name", "")).lower()
                    if not name:
                        return self._fail(h, 400, "no name specified",
                                          tick)
                    if name in self._timer_meta:
                        return self._fail(
                            h, 400, f"'{name}' is duplicate name.", tick)
                    try:
                        iv = interval_of(req.get("schedule", ""))
                    except Exception:
                        return self._fail(
                            h, 400,
                            f"invalid schedule "
                            f"'{req.get('schedule', '')}'", tick)
                    self._timer_meta[name] = {
                        "autoStart": bool(req.get("autoStart")),
                        "schedule": req.get("schedule", ""),
                        "task": req.get("path", "")}
                    self._sched.add_timer(name, iv, self._timer_job(name),
                                          start=bool(req.get("autoStart")))
                    return ok()
                return self._fail(h, 404, "not found", tick)

            name = parts[0].lower()
            if len(parts) == 2 and parts[1] == "state" \
                    and h.command == "POST":
                if name not in self._timer_meta:
                    return self._fail(h, 500,
                                      f"'{name}' does not exist", tick)
                state = str(json.loads(body.decode() or "{}")
                            .get("state", "")).upper()
                if state == "START":
                    self._sched.start(name)
                elif state == "STOP":
                    self._sched.stop(name)
                else:
                    return self._fail(
                        h, 400, f"no state specified: '{state}'", tick)
                return ok()
            if len(parts) != 1:
                return self._fail(h, 404, "not found", tick)
            if name not in self._timer_meta:
                return self._fail(h, 500, f"'{name}' does not exist",
                                  tick)
            if h.command == "GET":
                return ok(self._timer_schedule(name))
            if h.command == "DELETE":
                self._sched.remove(name)
                self._timer_meta.pop(name, None)
                return ok()
            if h.command == "PUT":                # update
                req = json.loads(body.decode() or "{}")
                meta = self._timer_meta[name]
                meta["autoStart"] = bool(req.get("autoStart",
                                                 meta["autoStart"]))
                meta["schedule"] = req.get("schedule", meta["schedule"])
                meta["task"] = req.get("path", meta["task"])
                try:
                    iv = interval_of(meta["schedule"])
                except Exception:
                    return self._fail(
                        h, 400,
                        f"invalid schedule '{meta['schedule']}'", tick)
                running = any(e["name"] == name and e["state"] == "RUNNING"
                              for e in self._sched.entries())
                self._sched.remove(name)
                self._sched.add_timer(name, iv, self._timer_job(name),
                                      start=running)
                return ok()
            return self._fail(h, 404, "not found", tick)

    # ------------------------------------------------- /web/api/bridges/*

    def _handle_bridges(self, h, rest: str, body: bytes,
                        tick: float) -> None:
        """The bridge facility router (http.go:323-326,
        http_facility.go:1064-1290): list/add/delete bridges and POST
        :name/state with state=test|query|exec.  SQL bridge types route
        through ``sources.bridge.BridgeRegistry`` (spark JDBC); type
        ``dir`` is this engine's directory-queue bridge (what
        subscribers consume).  Deleting a bridge a subscriber still uses
        fails with the reference's wording."""
        import os

        from neo_server_spark.sources.bridge import (DRIVERS,
                                                      default_registry
                                                      as registry)

        def ok(data=None, extra=None):
            payload = {"success": True, "reason": "success",
                       "elapse": f"{time.time() - tick:.6f}s"}
            if data is not None:
                payload["data"] = data
            if extra:
                payload.update(extra)
            self._send(h, 200, "application/json",
                       json.dumps(payload, separators=(",", ":")))

        parts = [p for p in rest.split("/") if p]
        with self._timer_lock:
            if not parts:
                if h.command == "GET":
                    return ok(sorted(
                        ({"name": n, "type": m["type"], "path": m["path"]}
                         for n, m in self._bridges.items()),
                        key=lambda b: b["name"]))
                if h.command == "POST":
                    req = json.loads(body.decode() or "{}")
                    name = str(req.get("name", "")).lower()
                    typ = str(req.get("type", "")).lower()
                    path = req.get("path") or ""
                    if not name:
                        return self._fail(h, 400, "no name specified",
                                          tick)
                    if name in self._bridges:
                        return self._fail(h, 500, "duplicate name", tick)
                    if typ in DRIVERS:
                        registry.register(name, typ, path)
                    elif typ != "dir":
                        return self._fail(
                            h, 500, f'unknown birdge type "{typ}"', tick)
                    self._bridges[name] = {"type": typ, "path": path}
                    return ok()
                return self._fail(h, 404, "not found", tick)

            name = parts[0].lower()
            if len(parts) == 2 and parts[1] == "state" \
                    and h.command == "POST":
                if name not in self._bridges:
                    return self._fail(h, 500,
                                      f"'{name}' does not exist", tick)
                req = json.loads(body.decode() or "{}")
                state = str(req.get("state", "")).lower()
                cmd = req.get("command") or ""
                meta = self._bridges[name]
                try:
                    if state == "test":
                        if meta["type"] == "dir":
                            root = os.path.abspath(self.fs_root or ".")
                            if not os.path.isdir(
                                    os.path.join(root, meta["path"] or
                                                 name)):
                                raise FileNotFoundError(
                                    f"bridge dir missing: {meta['path']}")
                        else:   # JDBC: 1-row probe through the driver
                            registry.get(name).sql(
                                self.spark, "SELECT 1").collect()
                        return ok()
                    if state == "query":
                        if not cmd:
                            return self._fail(h, 400,
                                              "no command specified",
                                              tick)
                        df = registry.get(name).sql(self.spark, cmd)
                        return ok({"columns": df.columns,
                                   "rows": [list(r) for r in
                                            df.collect()]})
                    if state == "exec":
                        registry.get(name).sql(self.spark, cmd).collect()
                        return ok(extra={"rowsAffected": 0,
                                         "lastInsertId": 0})
                except Exception as ex:
                    return self._fail(h, 500, str(ex), tick)
                return self._fail(h, 400, f"invalid state '{state}'",
                                  tick)
            if len(parts) != 1:
                return self._fail(h, 404, "not found", tick)
            if h.command == "DELETE":
                if name not in self._bridges:
                    return self._fail(h, 500,
                                      f"'{name}' does not exist", tick)
                users = [s for s, m in self._sub_meta.items()
                         if m["bridge"].lower() == name]
                if len(users) == 1:
                    return self._fail(
                        h, 400,
                        f'bridge "{name}" has a subscriber, {users[0]}',
                        tick)
                if len(users) > 1:
                    return self._fail(
                        h, 400,
                        f'bridge "{name}" has subscribers, '
                        + ",".join(users), tick)
                self._bridges.pop(name, None)
                try:
                    registry.unregister(name)
                except Exception:
                    pass
                return ok()
            return self._fail(h, 404, "not found", tick)

    # --------------------------------------------- /web/api/subscribers/*

    #: subscriber poll period (the broker push becomes a file-queue poll)
    SUBSCRIBER_POLL_SEC = 1.0

    def _subscriber_job(self, name: str):
        """One subscriber drain: new files under ``fs_root/<bridge>/
        <topic>/`` are messages (the Spark-shaped stand-in for the MQTT/
        NATS push — the broker itself stays outside Spark per the scope
        agreement; this preserves the reference's per-message task
        semantics, sched_subs.go:220-246 doMqttTask): a ``.tql`` task
        runs per payload with TOPIC/MSGID params, a
        ``db/{append|write}/<table>:<format>`` write-descriptor task
        ingests the payload into the table."""
        import os

        def job():
            meta = self._sub_meta.get(name)
            if meta is None:
                return
            root = os.path.abspath(self.fs_root or ".")
            d = os.path.join(root, meta["bridge"], meta["topic"])
            if not os.path.isdir(d):
                return
            done = os.path.join(d, "done")
            for fn in sorted(os.listdir(d)):
                full = os.path.join(d, fn)
                if not os.path.isfile(full):
                    continue
                # claim the message by moving it into done/ (tombstone on
                # disk, not an in-memory seen-set): memory stays bounded
                # for a long-lived queue, and a restarted server replays
                # only genuinely new files instead of the whole history.
                # Claim-before-process keeps the prior at-most-once
                # delivery semantics (a failing task doesn't hot-loop).
                os.makedirs(done, exist_ok=True)
                tomb = os.path.join(done, fn)
                if os.path.exists(tomb):
                    tomb = os.path.join(done, f"{meta['msgid']}_{fn}")
                try:
                    os.rename(full, tomb)
                except OSError:
                    continue        # raced with another drain; skip
                with open(tomb, "rb") as f:
                    payload = f.read()
                meta["msgid"] += 1
                task = meta["task"]
                if task.endswith(".tql"):
                    from neo_server_spark.tql.script import TqlRunner
                    path = os.path.abspath(os.path.join(root, task))
                    if not (path.startswith(root + os.sep)
                            and os.path.isfile(path)):
                        raise FileNotFoundError(f"tql not found: {task}")
                    with open(path) as f:
                        src = f.read()
                    TqlRunner(self.spark, sf_dir=self.sf_dir,
                              fs_root=self.fs_root,
                              params={"TOPIC": meta["topic"],
                                      "MSGID": str(meta["msgid"])},
                              payload=payload.decode()).run(src)
                else:   # db/{append|write}/<table>:<format>
                    m = task.split("/")
                    tbl_fmt = m[-1].split(":")
                    table = tbl_fmt[0]
                    fmt = tbl_fmt[1] if len(tbl_fmt) > 1 else "csv"
                    self._ingest_payload(table, fmt, payload)
        return job

    def _ingest_payload(self, table: str, fmt: str,
                        payload: bytes) -> int:
        """Parse a message payload like /db/write does and ingest it."""
        import csv as _csv
        import io as _io
        text = payload.decode()
        rows, cols = [], None
        if fmt == "csv":
            rows = [tuple(r) for r in _csv.reader(_io.StringIO(text)) if r]
        elif fmt == "ndjson":
            for line in text.splitlines():
                if line.strip():
                    o = json.loads(line)
                    cols = cols or list(o)
                    rows.append(tuple(o.get(c) for c in cols))
        elif fmt == "json":
            rows = [tuple(r) for r in json.loads(text)]
        else:
            raise ValueError(f"unsupported format {fmt!r}")
        return self._ingest(table, cols, rows) if rows else 0

    def _sub_schedule(self, name: str) -> dict | None:
        meta = self._sub_meta.get(name)
        if meta is None:
            return None
        st = next((e for e in self._sched.entries()
                   if e["name"] == f"sub:{name}"), {})
        return {"name": name, "type": "SUBSCRIBER",
                "state": st.get("state", "STOP"),
                "autoStart": meta["autoStart"], "bridge": meta["bridge"],
                "topic": meta["topic"], "task": meta["task"]}

    def _handle_subscribers(self, h, rest: str, body: bytes,
                            tick: float) -> None:
        """The subscriber facility router (http.go:317-321,
        http_facility.go:811-1000): list/get/add/delete subscribers and
        START/STOP state.  The bridge is a directory queue under
        fs_root (see _subscriber_job) — the broker connection itself is
        out of Spark scope; everything downstream of message arrival
        matches the reference."""
        def ok(data=None):
            payload = {"success": True, "reason": "success",
                       "elapse": f"{time.time() - tick:.6f}s"}
            if data is not None:
                payload["data"] = data
            self._send(h, 200, "application/json",
                       json.dumps(payload, separators=(",", ":")))

        parts = [p for p in rest.split("/") if p]
        with self._timer_lock:
            if not parts:
                if h.command == "GET":
                    return ok([self._sub_schedule(n)
                               for n in sorted(self._sub_meta)])
                if h.command == "POST":
                    req = json.loads(body.decode() or "{}")
                    name = str(req.get("name", "")).lower()
                    if not name:
                        return self._fail(h, 400, "no name specified",
                                          tick)
                    if name in self._sub_meta:
                        return self._fail(h, 500, "duplicate name", tick)
                    for k in ("bridge", "topic", "task"):
                        if not req.get(k):
                            return self._fail(h, 400,
                                              f"no {k} specified", tick)
                    self._sub_meta[name] = {
                        "autoStart": bool(req.get("autoStart")),
                        "bridge": req["bridge"], "topic": req["topic"],
                        "task": req["task"], "msgid": 0}
                    self._sched.add_timer(
                        f"sub:{name}", self.SUBSCRIBER_POLL_SEC,
                        self._subscriber_job(name),
                        start=bool(req.get("autoStart")))
                    return ok()
                return self._fail(h, 404, "not found", tick)

            name = parts[0].lower()
            if name not in self._sub_meta:
                return self._fail(h, 500, f"'{name}' does not exist",
                                  tick)
            if len(parts) == 2 and parts[1] == "state" \
                    and h.command == "POST":
                state = str(json.loads(body.decode() or "{}")
                            .get("state", "")).upper()
                if state == "START":
                    self._sched.start(f"sub:{name}")
                elif state == "STOP":
                    self._sched.stop(f"sub:{name}")
                else:
                    return self._fail(
                        h, 400, f"no state specified: '{state}'", tick)
                return ok()
            if len(parts) == 1 and h.command == "GET":
                return ok(self._sub_schedule(name))
            if len(parts) == 1 and h.command == "DELETE":
                self._sched.remove(f"sub:{name}")
                self._sub_meta.pop(name, None)
                return ok()
            return self._fail(h, 404, "not found", tick)

    # -------------------------------------------------- /web/api/tables/*

    def _handle_api_tables(self, h, rest: str, qs: dict,
                           tick: float) -> None:
        """The console data API (http_query.go:394-640):
        ``GET /web/api/tables`` (QueryResponse of ROWNUM/DB/USER/NAME/
        TYPE, ``name=`` prefix-or-glob filter, ``showall=``),
        ``GET /web/api/tables/:table/tags`` (ROWNUM/NAME per tag), and
        ``GET /web/api/tables/:table/tags/:tag/stat`` (the V$stat row)."""
        import fnmatch

        import pyspark.sql.functions as F

        from neo_server_spark.sqlx import catalog

        def reply(columns, types, rows, status=200):
            payload = json.dumps(
                {"data": {"columns": columns, "types": types,
                          "rows": rows},
                 "success": True, "reason": "success",
                 "elapse": f"{time.time() - tick:.6f}s"},
                separators=(",", ":"))
            self._send(h, status, "application/json", payload)

        parts = [p for p in rest.split("/") if p]
        if not parts:                                 # /web/api/tables
            name_f = (qs.get("name") or "").upper()
            showall = str(qs.get("showall", "")).lower() in ("1", "true")
            rows, rn = [], 0
            for r in catalog.show_tables_mach(
                    self.spark, show_all=showall).collect():
                nm = r["TABLE_NAME"]
                if name_f:
                    if any(c in name_f for c in "*?["):
                        if not fnmatch.fnmatchcase(nm, name_f):
                            continue
                    elif not nm.startswith(name_f):
                        continue
                rn += 1
                rows.append([rn, r["DATABASE_NAME"], r["USER_NAME"],
                             nm, r["TABLE_TYPE"]])
            return reply(["ROWNUM", "DB", "USER", "NAME", "TYPE"],
                         ["int32", "string", "string", "string",
                          "string"], rows)

        table = parts[0]
        try:
            df = self._table_loader(table)()
        except Exception as ex:
            return self._fail(h, 500, str(ex), tick)
        if not {"name", "time", "value"} <= set(df.columns):
            return self._fail(h, 400, "not a tag table", tick)

        if len(parts) == 2 and parts[1] == "tags":
            name_f = (qs.get("name") or "")
            tags = [r["name"] for r in
                    df.select("name").distinct().orderBy("name").collect()]
            rows = [[i + 1, t] for i, t in enumerate(
                t for t in tags if t and t.startswith(name_f))]
            return reply(["ROWNUM", "NAME"], ["int32", "string"], rows)

        if len(parts) == 4 and parts[1] == "tags" and parts[3] == "stat":
            tag = parts[2]
            from neo_server_spark.functions.timefn import str_time_named
            timeformat = qs.get("timeformat", "ns")
            tz = qs.get("tz")
            epoch_div = {"ns": 1, "us": 10**3, "ms": 10**6, "s": 10**9}
            stat = (catalog.show_tags_full(
                df.filter(F.col("name") == tag)).collect())
            if not stat:
                return self._fail(h, 500,
                                  f"tag '{tag}' does not exist", tick)
            r = stat[0]

            def t_of(v):
                if v is None:
                    return None
                if timeformat in epoch_div:
                    return int(v) // epoch_div[timeformat]
                row = self.spark.range(1).select(
                    str_time_named(F.lit(int(v)), timeformat,
                                   tz=tz).alias("t")).first()
                return row["t"]
            rows = [[1, r["NAME"], r["ROW_COUNT"], t_of(r["MIN_TIME"]),
                     t_of(r["MAX_TIME"]), r["MIN_VALUE"],
                     t_of(r["MIN_VALUE_TIME"]), r["MAX_VALUE"],
                     t_of(r["MAX_VALUE_TIME"]),
                     t_of(r["RECENT_ROW_TIME"])]]
            return reply(
                ["ROWNUM", "NAME", "ROW_COUNT", "MIN_TIME", "MAX_TIME",
                 "MIN_VALUE", "MIN_VALUE_TIME", "MAX_VALUE",
                 "MAX_VALUE_TIME", "RECENT_ROW_TIME"],
                ["int32", "string", "int64", "datetime", "datetime",
                 "double", "datetime", "double", "datetime", "datetime"],
                rows)

        return self._fail(h, 404, "not found", tick)

    # ----------------------------------------------------- /db/watch/<tbl>

    #: reference clamps the poll period to >= 1s (http_query.go:121-123);
    #: class attribute so tests can tighten the loop
    WATCH_MIN_PERIOD = 1.0

    def _table_loader(self, table: str):
        """Resolve a watchable table to a zero-arg DataFrame loader: DDL
        engine tables (temp view), /db/write-appended parquet under
        fs_root, then the TESTDATA tables under sf_dir."""
        import os as _os
        from neo_server_spark.sqlx import ddl
        from neo_server_spark import io as nio

        t = table.lower()
        if ddl.has_table(t):
            return lambda: self.spark.table(t)
        path = (self.fs_root or "/tmp") + "/" + table
        if _os.path.isdir(path):
            return lambda: self.spark.read.parquet(path)
        if self.sf_dir and _os.path.exists(
                _os.path.join(self.sf_dir, f"{t}.parquet")):
            return lambda: nio.load_table(self.spark, self.sf_dir, t)
        raise ValueError(f"table '{table}' does not exist")

    def _handle_watch(self, h, table: str, tags: list[str], qs: dict,
                      tick: float) -> None:
        """``GET /db/watch/:table`` — table changes streamed as
        server-sent events, the reference's watch journey
        (http_query.go:109-200 handleWatchQuery over spi/watch.go).

        Envelope parity: ``data: {json}\\n\\n`` per changed row,
        ``error: msg\\n\\n`` for watcher errors, ``: keep-alive\\n\\n``
        comments when idle past ``keep-alive``.  ``tag=`` params select
        TAG-table mode (per-tag latest row, first poll emits the current
        row); no tags = LOG-table mode (high-water mark on the arrival
        column, first poll anchors silently).  ``period`` (>=1s),
        ``keep-alive`` (default 30s), ``max-rows`` (default 100, cap
        100) and ``timeformat``/``tz`` decode like the reference.
        """
        from neo_server_spark.functions.timefn import (parse_duration,
                                                       str_time_named)
        from neo_server_spark.streaming.watch import (LogWatcher,
                                                      TagLatestWatcher)
        import pyspark.sql.functions as F

        def _dur(s, default_ns):
            try:
                return parse_duration(s) / 1e9
            except Exception:
                return default_ns / 1e9
        period = max(_dur(qs.get("period", ""), 10**9),
                     self.WATCH_MIN_PERIOD)
        keepalive = _dur(qs.get("keep-alive", ""), 30 * 10**9) or 30.0
        max_rows = int(qs.get("max-rows", 100) or 100)
        timeformat = qs.get("timeformat", "ns")
        tz = qs.get("tz")

        try:
            load_raw = self._table_loader(table)
        except Exception as ex:
            return self._fail(h, 500, str(ex), tick)

        sample = load_raw()
        cols = set(sample.columns)
        time_col = ("_ARRIVAL_TIME" if "_ARRIVAL_TIME" in cols else
                    "time" if "time" in cols else
                    "ts" if "ts" in cols else None)
        if time_col is None:
            return self._fail(
                h, 500, f"table '{table}' has no basetime column", tick)
        name_col = "name" if "name" in cols else None
        if tags and name_col is None:
            return self._fail(
                h, 500, f"table '{table}' has no tag name column", tick)

        epoch_div = {"ns": 1, "us": 10**3, "ms": 10**6, "s": 10**9}

        # the watcher always keys its high-water marks on the RAW epoch-ns
        # column (rendered values can collide within a coarser unit and
        # would drop rows); timeformat renders at emit time only
        if tags:
            watcher = TagLatestWatcher(load_raw, tags,
                                       name_col=name_col, time_col=time_col)
        else:
            watcher = LogWatcher(load_raw, time_col=time_col,
                                 max_rows=max_rows)

        h.send_response(200)
        h.send_header("Content-Type", "text/event-stream")
        h.send_header("Cache-Control", "no-cache")
        h.send_header("Connection", "keep-alive")
        h.end_headers()

        def emit(chunk: bytes) -> None:
            h.wfile.write(chunk)
            h.wfile.flush()

        def fmt_obj(o: dict) -> dict:
            t = o.get(time_col)
            if t is None:
                return o
            if timeformat in epoch_div:
                return dict(o, **{time_col: int(t) // epoch_div[timeformat]})
            # named layout: single-value render through the same layout
            # engine the codecs use (rare path; one tiny local job)
            row = self.spark.range(1).select(
                str_time_named(F.lit(int(t)), timeformat,
                               tz=tz).alias("t")).first()
            return dict(o, **{time_col: row["t"]})

        last_write = time.time()
        next_poll = 0.0
        try:
            while not self._closing:
                now = time.time()
                if now >= next_poll:
                    next_poll = now + period
                    if isinstance(watcher, TagLatestWatcher):
                        datas, errs = watcher.poll(), []
                    else:
                        datas, errs = watcher.poll()
                    for o in datas:
                        emit(b"data: " + json.dumps(
                            fmt_obj(o), separators=(",", ":"),
                            default=str).encode() + b"\n\n")
                        last_write = time.time()
                    for msg in errs:
                        emit(f"error: {msg}\n\n".encode())
                        last_write = time.time()
                if time.time() - last_write >= keepalive:
                    emit(b": keep-alive\n\n")
                    last_write = time.time()
                time.sleep(min(0.05, period))
        except (BrokenPipeError, ConnectionResetError, OSError):
            return   # client went away — the reference's CloseNotify exit


# --------------------------------------------------------------- backup API

def _backup_sql_text(archive: dict, base_dir: str | None) -> str:
    """Build the BACKUP statement from the POST body exactly like the
    reference's handleArchive (backupd.go:122-220): type database|table,
    duration full|incremental|time, relative paths rooted at baseDir."""
    import os as _os

    typ = str(archive.get("type", "")).lower()
    path = archive.get("path") or ""
    if not path:
        raise ValueError("path is required")
    if "'" in path or "\n" in path:
        raise ValueError("invalid path")
    if not _os.path.isabs(path) and base_dir:
        path = _os.path.join(base_dir, path)
    if typ == "database":
        target = "DATABASE"
    elif typ == "table":
        tname = archive.get("tableName") or ""
        if not tname:
            raise ValueError("table name is empty")
        if not tname.replace("_", "").isalnum():
            raise ValueError(f'invalid table name "{tname}"')
        target = f"TABLE {tname}"
    else:
        raise ValueError(f'invalid backup "{archive.get("type")}"')
    dur = archive.get("duration") or {}
    dtyp = str(dur.get("type", "")).lower()
    if dtyp == "full":
        return f"BACKUP {target} INTO DISK = '{path}'"
    if dtyp == "incremental":
        after = dur.get("after") or ""
        if "'" in after or "\n" in after:
            raise ValueError("invalid after path")
        if not _os.path.isabs(after) and base_dir:
            after = _os.path.join(base_dir, after)
        return f"BACKUP {target} AFTER '{after}' INTO DISK = '{path}'"
    if dtyp == "time":
        # from/to must be epoch integers — a stray quote or word would
        # otherwise surface as a misleading 'unsupported DDL' 500
        def _epoch(v, default):
            if v in (None, ""):
                return default
            try:
                return str(int(v))
            except (TypeError, ValueError):
                raise ValueError(f'invalid backup time "{v}"')
        from_sql = _epoch(dur.get("from"), "0")
        to_v = _epoch(dur.get("to"), None)
        to_sql = f"FROM_UNIXTIME({to_v})" if to_v is not None else "sysdate"
        return (f"BACKUP {target} FROM FROM_UNIXTIME({from_sql}) "
                f"TO {to_sql} INTO DISK = '{path}'")
    raise ValueError(f'invalid backup type "{dur.get("type")}"')


def _backup_routes(api: "EngineHttpServer", h, sub: str, qs: dict,
                   body: bytes, tick: float) -> None:
    """GET /archives, POST /archive, GET /archive/status, GET /mounts,
    POST|DELETE /mounts/<name> — the Backupd router (backupd.go:65-73)."""
    import os as _os

    from neo_server_spark.sqlx import backup as bk

    def ok(data=None, extra=None):
        payload = {"success": True, "reason": "success",
                   "elapse": f"{time.time() - tick:.6f}s"}
        if data is not None:
            payload["data"] = data
        if extra:
            payload.update(extra)
        api._send(h, 200, "application/json",
                  json.dumps(payload, separators=(",", ":")))

    if sub == "archives" and h.command == "GET":
        base = api.backup_dir or ""
        infos = []
        if base and _os.path.isdir(base):
            mount_by_path = {m["path"]: n for n, m in bk.mounts().items()}
            for d in sorted(_os.listdir(base)):
                full = _os.path.join(base, d)
                if not _os.path.isdir(full):
                    continue
                if d in ("SYSTEM_TABLESPACE", "TAG_TABLESPACE"):
                    continue
                if _os.path.exists(_os.path.join(full, bk.MANIFEST_NAME)):
                    info = {"path": d, "isMount": False}
                    if _os.path.abspath(full) in mount_by_path:
                        info["isMount"] = True
                        info["mountName"] = mount_by_path[_os.path.abspath(full)]
                    infos.append(info)
        return ok(infos)

    if sub == "archive" and h.command == "POST":
        archive = json.loads(body.decode() or "{}")
        try:
            sql_text = _backup_sql_text(archive, api.backup_dir)
        except ValueError as ex:
            return api._fail(h, 400, str(ex), tick)
        # compare-and-set ON THE REQUEST THREAD: two concurrent POSTs must
        # not both pass the guard, and a status poll right after the accept
        # must already read running=True (backupd.go's one-backup-at-a-time)
        with api._backup_lock:
            if api._backup["running"]:
                return api._fail(h, 500, "backup is running.", tick)
            api._backup.update(running=True, info=archive)

        def run():
            try:
                from neo_server_spark.sqlx import ddl
                ddl.exec_sql(api.spark, sql_text)
                with api._backup_lock:
                    api._backup.update(err=None, message="", info={},
                                       running=False)
            except Exception as ex:   # surfaces through /archive/status
                with api._backup_lock:
                    api._backup.update(err=True, message=str(ex),
                                       running=False)

        threading.Thread(target=run, daemon=True).start()
        return ok()

    if sub == "archive/status" and h.command == "GET":
        st = api._backup
        if not st["running"] and st["err"]:
            return api._fail(h, 500, st["message"], tick)
        return ok(st["info"])

    if sub == "mounts" and h.command == "GET":
        data = [{"name": n, "path": m["path"], "tbsid": 0,
                 "scn": m["scn"], "mountdb": n.upper(),
                 "dbBeginTime": str(m["begin_ns"]),
                 "dbEndTime": str(m["end_ns"]),
                 "backupBeginTime": str(m["scn"]),
                 "backupEndTime": str(m["scn"]), "flag": 0}
                for n, m in sorted(bk.mounts().items())]
        return ok(data)

    if sub.startswith("mounts/"):
        name = sub[len("mounts/"):]
        if not name:
            return api._fail(h, 400, "invalid mount name", tick)
        from neo_server_spark.sqlx import ddl
        try:
            if h.command == "POST":
                mount = json.loads(body.decode() or "{}")
                path = mount.get("path") or ""
                if not _os.path.isabs(path) and api.backup_dir:
                    path = _os.path.join(api.backup_dir, path)
                ddl.exec_sql(api.spark,
                             f"MOUNT DATABASE '{path}' TO '{name}'")
                return ok()
            if h.command == "DELETE":
                ddl.exec_sql(api.spark, f"UNMOUNT DATABASE '{name}'")
                return ok()
        except ddl.DdlError as ex:
            return api._fail(h, 500, str(ex), tick)

    return api._fail(h, 404, "not found", tick)


def _handle_backup(self, h, sub: str, qs: dict, body: bytes,
                   tick: float) -> None:
    _backup_routes(self, h, sub, qs, body, tick)


EngineHttpServer._handle_backup = _handle_backup
