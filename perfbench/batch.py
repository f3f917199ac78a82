"""The batch workload: ``__spark_entry__.queries()`` entries to the noop
sink and bulk tag-table appends, in one SparkSession (``batch_worker``)
with no server.

Each entry is its own kind.  After the timed passes an untimed pass runs
every entry once more, collected, and compares it with the entry's
``oracle_sql()`` statement run by DuckDB over the same inputs, by the
comparison rules of ``tools/selfcheck.py``.  Appended rows are read back
by DuckDB and compared with the benchmark's own tally.
"""

from __future__ import annotations

import importlib.util
import json
import os
import pickle
import time

from batch_worker import REPLY, append_value

#: queries() entries: SQL, operators, datapipe (dedup, similarity, text)
#: and txlog commits
ENTRIES = ("tpch_q1", "tpch_q12", "group_aggs", "dedup_exact",
           "similarity_topk", "text_stats", "txlog_table")
#: (shape, rows per append)
APPENDS = (("3col", 20_000), ("13col", 10_000))


def load_module(root: str, relpath: str):
    """Import one of the checkout's files by path."""
    name = "perfbench_" + os.path.basename(relpath)[:-3]
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(root, relpath))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def compare(sc, s_cols, s_rows, o_cols, o_rows) -> str | None:
    """None when the rows agree in emission order, else the reason —
    ``tools/selfcheck.py``'s verdict, with its helpers."""
    s_norm, s_cn = sc.normalize(s_rows, s_cols)
    o_norm, o_cn = sc.normalize(o_rows, o_cols)
    if s_cn != o_cn:
        return f"columns {s_cn} != {o_cn}"
    if len(s_norm) != len(o_norm):
        return f"rowcount {len(s_norm)} != {len(o_norm)}"
    for i, (sr, orow) in enumerate(zip(s_norm, o_norm)):
        for j, (a, b) in enumerate(zip(sr, orow)):
            if not sc.cells_equal(a, b):
                return f"row {i} col {s_cn[j]}: {a!r} != {b!r}"
    return None


class Batch:
    rounds_per_s = 0.3
    warmup_rounds = 1

    def __init__(self, seed: int, inputs: str, work: str, root: str):
        self.seed, self.inputs, self.work, self.root = seed, inputs, work, root
        self.appended: dict[str, list[tuple[int, int]]] = {}
        self.next_row = 0

    def prepare(self, _prog) -> list[str]:
        return []

    # ---- talking to the worker

    @staticmethod
    def call(prog, cmd: dict) -> dict:
        try:
            prog.proc.stdin.write(json.dumps(cmd) + "\n")
            prog.proc.stdin.flush()
        except OSError as ex:
            raise RuntimeError(f"worker exited ({ex})") from ex
        return read_reply(prog)

    def run_pass(self, prog, rounds: int, tag: str) -> dict:
        out = {"samples": {}, "attempted": {}, "failed": {}, "errors": [],
               "failures": []}
        t0 = time.perf_counter()
        for _ in range(rounds):
            for entry in ENTRIES:
                self._timed(prog, entry, {"op": "entry", "name": entry}, out)
            for shape, rows in APPENDS:
                path = os.path.join(self.work, f"append_{tag}_{shape}")
                start = self.next_row
                self.next_row += rows
                ok = self._timed(prog, f"append_{shape}", {
                    "op": "append", "shape": shape, "path": path,
                    "start": start, "rows": rows, "seed": self.seed}, out)
                if ok:
                    self.appended.setdefault(path, []).append((start, rows))
        out["wall_s"] = time.perf_counter() - t0
        return out

    def _timed(self, prog, kind: str, cmd: dict, out: dict) -> bool:
        out["attempted"][kind] = out["attempted"].get(kind, 0) + 1
        t0 = time.perf_counter()
        rep = self.call(prog, cmd)
        ms = (time.perf_counter() - t0) * 1000.0
        if not rep.get("ok"):
            out["failed"][kind] = out["failed"].get(kind, 0) + 1
            out["failures"].append(f"{kind}: {rep.get('error')}")
            return False
        out["samples"].setdefault(kind, []).append(ms)
        return True

    # ---- checks

    def check(self, prog) -> list[str]:
        """Untimed: every entry against its oracle, every append against
        the tally."""
        import duckdb
        sc = load_module(self.root, "tools/selfcheck.py")
        # the worker imports the program; this process does not, so the
        # program's modules need not be importable here
        rep = self.call(prog, {"op": "oracle", "names": list(ENTRIES)})
        if not rep.get("ok"):
            return [f"oracle_sql: {rep.get('error')}"]
        oracles = rep["sql"]
        con = duckdb.connect()
        errors = []
        try:
            for t in ("region nation customer supplier part orders lineitem "
                      "events documents embeddings").split():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{self.inputs}/{t}.parquet'")
            for entry in ENTRIES:
                path = os.path.join(self.work, f"check_{entry}.pkl")
                rep = self.call(prog, {"op": "entry", "name": entry,
                                       "out": path})
                if not rep.get("ok"):
                    errors.append(f"{entry}: {rep.get('error')}")
                    continue
                with open(path, "rb") as f:
                    s_cols, s_rows = pickle.load(f)
                res = con.execute(oracles[entry])
                o_cols = [d[0] for d in res.description]
                why = compare(sc, s_cols, s_rows, o_cols,
                              [tuple(r) for r in res.fetchall()])
                if why:
                    errors.append(f"{entry}: wrong answer: {why}")
            errors += self.check_appends(con)
        finally:
            con.close()
        return errors

    def check_appends(self, con) -> list[str]:
        """DuckDB reads each appended table back: its row count and value
        sum equal the benchmark's tally of acknowledged appends."""
        errors = []
        for path, parts in sorted(self.appended.items()):
            n, s = con.execute(
                f"SELECT count(*), sum(value) FROM read_parquet("
                f"'{path}/**/*.parquet', hive_partitioning=true)").fetchone()
            want_n = sum(r for _s, r in parts)
            want_s = sum(append_value(i, self.seed) for start, r in parts
                         for i in range(start, start + r))
            if n != want_n or s != want_s:
                errors.append(f"{os.path.basename(path)}: {n} rows / sum "
                              f"{s}, appended {want_n} / {want_s}")
        return errors


def read_reply(prog) -> dict:
    """The worker's next reply line; other output on its stdout is
    skipped.  A dead worker reads as a failed command."""
    while True:
        line = prog.proc.stdout.readline()
        if not line:
            return {"ok": False, "error": "worker exited"}
        if line.startswith(REPLY):
            return json.loads(line[len(REPLY):])
