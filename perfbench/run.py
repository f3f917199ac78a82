"""neo-server-spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload serve_read|batch
                             --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Each run gets a fresh directory under
``.perfbench_runs/`` holding the generated inputs and the program's
fs-root, working directory, Spark local dirs and JVM temp dir; it is
removed once every process of the program has exited.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` starts the
program through ``bootstrap`` and prints the per-layer metrics: one
program runs a third of the timed pass untraced, traced, and untraced
again, and ``trace.overhead_pct`` compares the traced wall with the mean
of the two untraced ones, so that a drift of the program's speed over
the run cancels.

Every pass does a fixed amount of work, set by ``--seconds``.  The last
line of stdout is the result JSON; the line before it is the run's
diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import shutil
import signal
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import gen                                   # noqa: E402
import proc                                  # noqa: E402
import spans as spanlib                      # noqa: E402
from batch import ENTRIES, Batch, read_reply  # noqa: E402
from serve import ServeRead, Op, Client, query_path, rows_of  # noqa: E402
from stats import geomean, kind_summary, median  # noqa: E402

WORKLOADS = {"serve_read": ServeRead, "batch": Batch}
#: kinds whose latency makes up write_ms; every other kind is a read
WRITE_KINDS = ("write", "ddl_write", "append_3col", "append_13col")
#: input sizes: TPC-H-like tables at ``scale`` of sf1, and the events rows
INPUTS = {
    "serve_read": {"scale": 0.01, "events": 120_000},
    "batch": {"scale": 0.01, "events": 10_000},
}
PROGRAM_FILES = ("neo_server_spark/__main__.py", "__spark_entry__.py",
                 "tools/selfcheck.py")
RUN_LIMIT_S = 150


class RunDir:
    """A fresh directory for one program start."""

    def __init__(self, workload: str, seed: int):
        self.base = os.path.join(ROOT, ".perfbench_runs")
        self.path = os.path.join(
            self.base, f"{workload}-s{seed}-{os.getpid()}-{time.time_ns()}")
        for sub in ("inputs", "fs", "work", "local", "tmp"):
            os.makedirs(os.path.join(self.path, sub))

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def env(self) -> dict:
        env = dict(os.environ)
        env["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in [env.get("PYTHONPATH")] if p])
        env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        env["SPARK_LOCAL_DIRS"] = self.sub("local")
        env["TMPDIR"] = self.sub("tmp")
        # the JVM's temp files go to the run directory; -UsePerfData keeps
        # it from writing its counters under /tmp/hsperfdata_<user>.  The
        # JVM splits JAVA_TOOL_OPTIONS at spaces, so the directory is given
        # relative to the program's working directory, which is the JVM's.
        tmp = os.path.relpath(self.sub("tmp"), self.sub("work"))
        env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        env["PYSPARK_PYTHON"] = sys.executable
        return env

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(self.base)
        except OSError:
            pass


def calibrate_ms() -> float:
    """A fixed single-thread loop: its time tells host drift apart from
    program change."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return (time.perf_counter() - t0) * 1000.0


def _read_line(p: proc.Program, timeout_s: float) -> str:
    sel = selectors.DefaultSelector()
    sel.register(p.proc.stdout, selectors.EVENT_READ)
    try:
        if not sel.select(timeout_s):
            raise RuntimeError("program printed nothing")
        return p.proc.stdout.readline()
    finally:
        sel.close()


def _drain(stream) -> None:
    """Keep reading a program's stdout so that it never blocks on it."""
    threading.Thread(target=lambda: [None for _ in stream],
                     daemon=True).start()


class Session:
    """One program start for a workload: set up, passes, checks, stop."""

    def __init__(self, workload: str, seed: int, traced: bool):
        self.workload, self.traced = workload, traced
        self.rd = RunDir(workload, seed)
        self.spans_path = self.rd.sub("work/spans.json")
        gen.generate(self.rd.sub("inputs"), seed, **INPUTS[workload])
        self.prog: proc.Program | None = None
        self.port = 0

    def start(self) -> float:
        """Start the program; return seconds from spawn to its first
        correct reply."""
        env, work = self.rd.env(), self.rd.sub("work")
        inputs = self.rd.sub("inputs")
        log = self.rd.sub("program.log")
        if self.workload == "batch":
            argv = [sys.executable, os.path.join(HERE, "batch_worker.py"),
                    inputs] + ([self.spans_path] if self.traced else [])
            self.prog = proc.Program(argv, work, env, log)
            rep = read_reply(self.prog)
            got = rep.get("ready")
        else:
            serve = ["serve", "--port", "0", "--sf-dir", inputs,
                     "--fs-root", self.rd.sub("fs")]
            argv = ([sys.executable, os.path.join(HERE, "bootstrap.py"),
                     self.spans_path, "--"] + serve) if self.traced else \
                [sys.executable, "-m", "neo_server_spark"] + serve
            self.prog = proc.Program(argv, work, env, log)
            line = _read_line(self.prog, 120.0)
            if "listening on" not in line:
                raise RuntimeError(f"server did not start: {line!r}")
            self.port = int(line.strip().rsplit(":", 1)[1])
            _drain(self.prog.proc.stdout)
            c = Client(self.port)
            data = c.send(Op("probe", "GET", query_path(
                "SELECT count(*) AS n FROM events")))
            got = rows_of(data)[0][0] if data else None
        setup = time.perf_counter() - self.prog.t_spawn
        want = INPUTS[self.workload]["events"]
        if got != want:
            raise RuntimeError(f"first reply {got!r}, expected {want}")
        return setup

    def stop(self, grace_s: float = 30.0) -> list[str]:
        """Stop the program and wait for its whole tree; return the
        processes that had to be killed after ``grace_s``."""
        if self.prog is None:
            return []
        if self.workload == "batch" and self.prog.proc.poll() is None:
            try:          # the worker writes its spans on quit
                self.prog.proc.stdin.write('{"op": "quit"}\n')
                self.prog.proc.stdin.flush()
                self.prog.proc.wait(timeout=grace_s)
            except (OSError, ValueError, proc.subprocess.TimeoutExpired):
                pass
        killed = self.prog.stop(grace_s)
        self.prog = None
        return [f"process {pid} outlived SIGTERM" for pid in killed]


def run_workload(args) -> dict:
    """Set up, warm up, run the timed pass (traced: three thirds of it),
    check, stop.  Returns everything the report needs."""
    root_before = set(os.listdir(ROOT))
    s = Session(args.workload, args.seed, bool(args.trace))
    out: dict = {"errors": [], "left_behind": [], "spans": None}
    try:
        inputs, work = s.rd.sub("inputs"), s.rd.sub("work")
        if args.workload == "batch":
            wl = Batch(args.seed, inputs, work, ROOT)
        else:
            wl = WORKLOADS[args.workload](args.seed, inputs, s.rd.sub("fs"))
        out["setup_s"] = s.start()
        target = s.prog if args.workload == "batch" else s.port
        rounds = wl.rounds_per_s * args.seconds
        size = max(1, round(rounds / 3 if args.trace else rounds))
        out["warmup"] = wl.warmup_rounds
        out["errors"] += wl.prepare(target)
        out["errors"] += wl.run_pass(target, wl.warmup_rounds,
                                     "warm")["errors"]
        out["passes"] = []
        for traced in ([False, True, False] if args.trace else [False]):
            if args.trace and args.workload == "batch":
                Batch.call(s.prog, {"op": "trace", "on": traced})
            elif args.trace:
                os.kill(s.prog.proc.pid,
                        signal.SIGUSR1 if traced else signal.SIGUSR2)
            load0 = os.getloadavg()[0]
            calib0 = calibrate_ms()
            cpu0 = proc.cpu_ms(s.prog.pids())
            steal0 = proc.host_ticks()
            wall0 = time.time()
            p = wl.run_pass(target, size, f"pass{len(out['passes'])}")
            p["wall_window"] = (wall0, time.time())
            p["cpu_ms"] = proc.cpu_ms(s.prog.pids()) - cpu0
            steal1 = proc.host_ticks()
            p["steal_pct"] = 100.0 * (steal1[0] - steal0[0]) / max(
                1, steal1[1] - steal0[1])
            p["calib_ms"] = (calib0, calibrate_ms())
            p["load1"] = (load0, os.getloadavg()[0])
            out["passes"].append(p)
            out["errors"] += p["errors"]
        out["rss_by_process"] = proc.peak_rss_by_process(s.prog.pids())
        out["peak_rss_mb"] = sum(out["rss_by_process"].values())
        if args.workload == "batch":
            out["errors"] += wl.check(s.prog)
        else:
            out["errors"] += wl.final_check(s.port)
        out["left_behind"] += s.stop()
        if args.trace:
            with open(s.spans_path) as f:
                out["spans"] = json.load(f)
    except BaseException:
        s.stop(grace_s=5.0)    # so that its log is complete
        _print_tail(s.rd.sub("program.log"))
        raise
    finally:
        out["left_behind"] += s.stop()
        s.rd.remove()
        if os.path.exists(s.rd.path):
            out["left_behind"].append(f"path {s.rd.path}")
    new = set(os.listdir(ROOT)) - root_before
    out["left_behind"] += [f"path {n}" for n in sorted(new)]
    return out


#: every kind of operation, over all workloads, in report order
ALL_KINDS = (
    "q_point", "q_group", "q_large_csv", "tql", "lake_raw", "lake_calc",
    "write", "ddl_write") + ENTRIES + (
    "append_3col", "append_13col")


def _units(name: str) -> str:
    if name.endswith("ms") or "_ms_" in name:
        return "ms"
    if "kb_" in name:
        return "KB"
    if name.endswith("_pct"):
        return "%"
    return "count"


def end_to_end(out: dict) -> dict:
    p = out["passes"][0]
    smp = p["samples"]
    reads = [median(v) for k, v in smp.items() if k not in WRITE_KINDS]
    writes = [median(v) for k, v in smp.items() if k in WRITE_KINDS]
    done = sum(len(v) for v in smp.values())
    return {
        "setup_s": {"value": out["setup_s"], "unit": "s"},
        "ops_per_s": {"value": done / p["wall_s"], "unit": "1/s"},
        "read_ms": {"value": geomean(reads), "unit": "ms"},
        "write_ms": {"value": geomean(writes), "unit": "ms"},
        "peak_rss_mb": {"value": out["peak_rss_mb"], "unit": "MB"},
    }


def per_layer(out: dict) -> dict:
    before, traced, after = out["passes"]
    layers = spanlib.layer_metrics(out["spans"], traced["wall_window"])
    m = {name: {"value": layers[name], "unit": _units(name)}
         for name in spanlib.NAMES}
    summ = kind_summary(traced["samples"])
    for kind in ALL_KINDS:
        row = summ.get(kind, {"n": 0, "p50": 0.0})
        m[f"client.{kind}.p50_ms"] = {"value": row["p50"], "unit": "ms"}
        m[f"client.{kind}.n"] = {"value": row["n"], "unit": "count"}
    m["trace.overhead_pct"] = {
        "value": (2.0 * traced["wall_s"]
                  / (before["wall_s"] + after["wall_s"]) - 1.0) * 100.0,
        "unit": "%"}
    return m


def _counts(passes: list[dict], key: str) -> dict:
    tot: dict[str, int] = {}
    for p in passes:
        for k, v in p[key].items():
            tot[k] = tot.get(k, 0) + v
    return tot


def _print_tail(path: str, lines: int = 40) -> None:
    """The end of the program's log, to stderr: the run directory that
    holds it is removed on the way out."""
    try:
        with open(path, errors="replace") as f:
            tail = f.readlines()[-lines:]
    except OSError:
        return
    sys.stderr.write(f"perfbench: last lines of {path}:\n")
    sys.stderr.writelines(tail)


def _alarm(_sig, _frm):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description="neo-server-spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    missing = [f for f in PROGRAM_FILES
               if not os.path.isfile(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: {ROOT} is not a neo-server-spark checkout "
              f"(missing {', '.join(missing)})", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(RUN_LIMIT_S)
    try:
        out = run_workload(args)
        metrics = per_layer(out) if args.trace else end_to_end(out)
    except Exception as ex:
        traceback.print_exc()
        print(f"perfbench: run failed: {type(ex).__name__}: {ex}",
              file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
    attempted = _counts(out["passes"], "attempted")
    failed = _counts(out["passes"], "failed")
    n_ops = sum(attempted.values())
    diag = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "attempted": attempted, "failed": failed,
        "samples": {k: len(v) for k, v in out["passes"][0]["samples"].items()},
        "kinds": kind_summary(out["passes"][0]["samples"]),
        "warmup": out["warmup"],
        "setup_s": out["setup_s"],
        "pass_wall_s": [p["wall_s"] for p in out["passes"]],
        "load1_start_end": out["passes"][0]["load1"],
        "calibration_ms_before_after": out["passes"][0]["calib_ms"],
        "cpu_steal_pct": [p["steal_pct"] for p in out["passes"]],
        "cpu_ms_per_op": [p["cpu_ms"] / max(1, sum(p["attempted"].values()))
                          for p in out["passes"]],
        "peak_rss_mb_by_process": out["rss_by_process"],
        "left_behind": out["left_behind"],
        "failures": [f for p in out["passes"] for f in p["failures"]][:5],
        "errors": out["errors"][:5],
    }
    print("diagnostics " + json.dumps(diag), flush=True)
    print(json.dumps({"correct": not out["errors"], "attempted": n_ops,
                      "failed": sum(failed.values()), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
