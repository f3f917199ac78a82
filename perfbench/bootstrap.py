"""Traced start of the program.

    python3 perfbench/bootstrap.py SPANS_OUT -- serve --port 0 ...

wraps the program's layer boundaries (the functions listed in
``LAYERS``) and then runs ``python -m neo_server_spark`` with the
arguments after ``--``.  Tracing starts switched off; SIGUSR1 switches it
on and SIGUSR2 off again, so one program can run untraced and traced
passes in turn.  SIGTERM writes the spans to SPANS_OUT and ends the
process.

An operation is one HTTP request (``EngineHttpServer._route``) or one
command of the batch worker.  Each span records its layer, its operation,
its parent span on the same thread and its self time (duration minus the
time its child spans cover).  Each operation runs under its own Spark job
group, so its jobs, tasks, task time and shuffle bytes are read from
Spark's status store when it ends.  Jobs that the program launches from
helper threads of its own do not carry the group and are not counted.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import signal
import sys
import threading
import time

#: (module, attribute path, layer) — the program's public boundaries.
LAYERS = (
    ("neo_server_spark.server.http_api", "EngineHttpServer._route", "server"),
    ("neo_server_spark.server.http_api", "EngineHttpServer._ingest",
     "ingest"),
    ("neo_server_spark.tql.script", "TqlRunner.run", "tql"),
    ("neo_server_spark.io", "register_views", "catalog"),
    ("neo_server_spark.sqlx.lake", "register_lake_views", "catalog"),
    ("neo_server_spark.sqlx.dialect", "lake_sql", "sqlx"),
    ("neo_server_spark.sqlx.ddl", "exec_sql", "sqlx"),
    ("neo_server_spark.sqlx.ddl", "insert_rows", "sqlx"),
    ("pyspark.sql.session", "SparkSession.createDataFrame",
     "engine.create_df"),
    ("pyspark.sql.classic.dataframe", "DataFrame.collect",
     "engine.action"),
    ("pyspark.sql.classic.dataframe", "DataFrame.toLocalIterator",
     "engine.action"),
    ("pyspark.sql.readwriter", "DataFrameWriter.save", "engine.action"),
    ("pyspark.sql.readwriter", "DataFrameWriter.parquet", "engine.action"),
    ("neo_server_spark.codecs.encoders", "to_json_envelope", "codecs"),
    ("neo_server_spark.codecs.encoders", "to_csv", "codecs"),
    ("neo_server_spark.io", "write_tag_table", "ingest"),
    ("neo_server_spark.txlog", "commit", "txlog.commit"),
    ("neo_server_spark.txlog", "_atomic_commit", "txlog.commit"),
    ("neo_server_spark.dml", "_rewrite_commit", "txlog.commit"),
)

#: layers whose calls are counted rather than timed
COUNTED = (
    ("pyspark.sql.classic.dataframe", "DataFrame.createOrReplaceTempView",
     "catalog.views"),
)


def _resolve(modname: str, path: str):
    mod = __import__(modname, fromlist=["_"])
    owner = mod
    *outer, attr = path.split(".")
    for name in outer:
        owner = getattr(owner, name)
    return owner, attr


def _files_under(path: str) -> int:
    n = 0
    for _root, _dirs, files in os.walk(path):
        n += len(files)
    return n


class Tracer:
    def __init__(self, out_path: str):
        self.out_path = out_path
        self.enabled = False
        self.spans: list[tuple] = []
        self.ops: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._sc = None

    # ------------------------------------------------------------ spans

    def _stack(self) -> list:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _op(self) -> dict | None:
        st = self._stack()
        return st[0]["op"] if st else None

    def count(self, key: str, n: float = 1) -> None:
        op = self._op()
        if op is not None:
            op["counts"][key] = op["counts"].get(key, 0) + n

    def _enter(self, layer: str, root: bool) -> dict | None:
        st = self._stack()
        if not st:
            if not root:
                return None      # outside any operation: not traced
            op = {"op": next(self._ids), "wall0": time.time(),
                  "counts": {}, "layer": layer}
            self._begin_spark(op)
        else:
            op = st[0]["op"]
        fr = {"id": next(self._ids), "layer": layer, "op": op,
              "parent": st[-1]["id"] if st else None,
              "t0": time.perf_counter(), "child": 0.0}
        st.append(fr)
        return fr

    def _exit(self, fr: dict) -> None:
        t1 = time.perf_counter()
        st = self._stack()
        st.pop()
        dur = t1 - fr["t0"]
        if st:
            st[-1]["child"] += dur
        op = fr["op"]
        rec = (op["op"], fr["id"], fr["parent"], fr["layer"],
               fr["t0"], t1, (dur - fr["child"]) * 1000.0)
        with self._lock:
            self.spans.append(rec)
        if not st:
            op["ms"] = dur * 1000.0
            self._end_spark(op)
            with self._lock:
                self.ops.append(op)

    def span(self, layer: str, root: bool = False):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.fr = tracer._enter(layer, root) if tracer.enabled \
                    else None
                return self

            def __exit__(self, *exc):
                if self.fr is not None:
                    tracer._exit(self.fr)
                return False
        return _Ctx()

    # ------------------------------------------------- Spark status store

    def _spark(self):
        if self._sc is None:
            from pyspark import SparkContext
            self._sc = SparkContext._active_spark_context
        return self._sc

    def _begin_spark(self, op: dict) -> None:
        sc = self._spark()
        if sc is not None:
            op["group"] = f"perfbench-op-{op['op']}"
            sc.setJobGroup(op["group"], op["group"])

    def _end_spark(self, op: dict) -> None:
        sc = self._spark()
        if sc is None or "group" not in op:
            return
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op["group"])
        tasks = run_ms = shuffle = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                tasks += sd.numTasks()
                run_ms += sd.executorRunTime()
                shuffle += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        op["spark"] = {"jobs": len(jobs), "tasks": tasks,
                       "task_ms": run_ms, "shuffle_kb": shuffle / 1024.0}

    # ----------------------------------------------------------- wrapping

    def wrap(self, modname: str, path: str, layer: str) -> tuple:
        owner, attr = _resolve(modname, path)
        orig = getattr(owner, attr)
        tracer = self
        root = layer == "server"

        @functools.wraps(orig)
        def traced(*a, **k):
            if not tracer.enabled:
                return orig(*a, **k)
            fr = tracer._enter(layer, root)
            if fr is None:
                return orig(*a, **k)
            files0 = None
            if attr == "write_tag_table":
                target = a[1] if len(a) > 1 else k.get("path")
                files0 = _files_under(target)
            try:
                out = orig(*a, **k)
            finally:
                tracer._exit(fr)
            if files0 is not None:
                tracer.count("ingest.files", _files_under(target) - files0)
            if layer == "codecs" and isinstance(out, str):
                tracer.count("codecs.bytes", len(out.encode()))
            return out
        setattr(owner, attr, traced)
        return orig, traced

    def wrap_count(self, modname: str, path: str, key: str) -> tuple:
        owner, attr = _resolve(modname, path)
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def counted(*a, **k):
            if tracer.enabled:
                tracer.count(key)
            return orig(*a, **k)
        setattr(owner, attr, counted)
        return orig, counted

    def dump(self) -> None:
        with self._lock:
            data = {"ops": [{k: v for k, v in op.items() if k != "group"}
                            for op in self.ops],
                    "spans": self.spans}
        tmp = self.out_path + ".part"
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, self.out_path)


def install(out_path: str) -> Tracer:
    """Wrap every boundary in ``LAYERS`` and ``COUNTED``, and rebind the
    names other program modules imported before the wrapping."""
    tracer = Tracer(out_path)
    swaps = [tracer.wrap(*row) for row in LAYERS]
    swaps += [tracer.wrap_count(*row) for row in COUNTED]
    originals = {id(o): t for o, t in swaps}
    for name, mod in list(sys.modules.items()):
        if not name.startswith("neo_server_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if id(val) in originals:
                setattr(mod, attr, originals[id(val)])
    return tracer


def main() -> None:
    out_path = sys.argv[1]
    argv = sys.argv[sys.argv.index("--") + 1:]
    tracer = install(out_path)

    def on_toggle(sig, _frm):
        tracer.enabled = sig == signal.SIGUSR1

    def on_term(_sig, _frm):
        tracer.enabled = False
        tracer.dump()
        sys.stdout.flush()
        os._exit(0)
    signal.signal(signal.SIGUSR1, on_toggle)
    signal.signal(signal.SIGUSR2, on_toggle)
    signal.signal(signal.SIGTERM, on_term)
    from neo_server_spark.__main__ import main as program_main
    raise SystemExit(program_main(argv))


if __name__ == "__main__":
    main()
