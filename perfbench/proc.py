"""Program process trees: start, measure from the kernel's counters, stop.

The program is started in a session of its own, so its whole tree (the
Python process, the JVM it launches and the JVM's Python workers) shares
one session id even after a parent exits.  Peak memory is the sum of each
live process's ``VmHWM`` (the kernel's resident-set high-water mark) and
CPU time the sum of ``utime + stime``; both are read from ``/proc`` for
the program's own processes only.
"""

from __future__ import annotations

import os
import signal
import subprocess
import time

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2:].split()


def session_pids(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        # fields after the name: state ppid pgrp session ...
        if st and st[0] not in ("Z", "X") and int(st[3]) == sid:
            out.append(int(name))
    return out


def peak_rss_by_process(pids) -> dict[str, float]:
    """``VmHWM`` in MB of each live process, keyed "name pid/threads"."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" not in fields:      # exiting: its memory is gone
            continue
        key = f"{fields['Name'].strip()} {pid}/{fields['Threads'].strip()}"
        out[key] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def cpu_ms(pids) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:   # utime stime are fields 14 and 15 of stat, 12 and 13 here
            total += int(st[11]) + int(st[12])
    return total * _TICK_MS


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat:
    time the hypervisor gave to others while this machine wanted it."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


class Program:
    """One started program and the session its processes live in."""

    def __init__(self, argv: list[str], cwd: str, env: dict, log_path: str):
        self.t_spawn = time.perf_counter()
        self._log = open(log_path, "wb")
        self.proc = subprocess.Popen(
            argv, cwd=cwd, env=env, stdin=subprocess.PIPE,
            stdout=subprocess.PIPE, stderr=self._log, text=True, bufsize=1,
            start_new_session=True)
        self.sid = self.proc.pid

    def pids(self) -> list[int]:
        return session_pids(self.sid)

    def stop(self, grace_s: float = 30.0) -> list[int]:
        """SIGTERM the program, then wait until every process of its
        session has exited; SIGKILL what is left after ``grace_s``.
        Returns the pids that had to be killed."""
        killed: list[int] = []
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
        try:
            self.proc.wait(timeout=grace_s)
        except subprocess.TimeoutExpired:
            pass
        deadline = time.monotonic() + grace_s
        while True:
            left = self.pids()
            if not left:
                break
            if time.monotonic() > deadline:
                for pid in left:
                    try:
                        os.kill(pid, signal.SIGKILL)
                        killed.append(pid)
                    except OSError:
                        pass
                deadline = time.monotonic() + 10.0
            time.sleep(0.05)
        if self.proc.poll() is None:
            self.proc.wait()
        for stream in (self.proc.stdin, self.proc.stdout):
            try:
                stream.close()
            except OSError:
                pass
        self._log.close()
        return killed
