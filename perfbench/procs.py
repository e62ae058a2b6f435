"""The server under test as a process tree: spawn, ready, stop, /proc.

The Flight server runs in its own session (``start_new_session``); its
JVM is a child and the PySpark worker daemon, a grandchild, moves to a
process group of its own. So the tree is found by parent links in
``/proc``, and stopping it waits until every process seen in the tree
is gone: a JVM outlives its Python parent by seconds.
"""

from __future__ import annotations

import ctypes
import json
import os
import select
import signal
import subprocess
import sys
import time

_TICK = os.sysconf("SC_CLK_TCK")
READY_TIMEOUT_S = 120.0


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM once its Python parent has
    exited) children of this process, so ``Server.stop`` can reap them
    instead of leaving zombies behind."""
    pr_set_child_subreaper = 36
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                           ctypes.c_ulong, ctypes.c_ulong]
    libc.prctl.restype = ctypes.c_int
    libc.prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children() -> None:
    """Collect every child (orphans included) that has already exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="ascii") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> dict[int, str]:
    """{pid: start time} of ``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    starts: dict[int, str] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is None:
            continue
        children.setdefault(int(st[1]), []).append(int(name))
        starts[int(name)] = st[19]
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in starts and pid not in out:
            out[pid] = starts[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pid: int) -> float:
    """User + system CPU of ``pid`` and of its reaped children."""
    st = _stat(pid)
    if st is None:
        return 0.0
    return sum(int(st[i]) for i in (11, 12, 13, 14)) / _TICK


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of ``pid`` in MiB."""
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Server:
    """One benchmark server process tree (``python3 -m perfbench.server``)."""

    def __init__(self, root: str, workdir: str, users: list[str],
                 env: dict[str, str], trace_path: str = ""):
        self.workdir = workdir
        cmd = [sys.executable, "-m", "perfbench.server",
               "--workdir", workdir, "--users", ",".join(users)]
        if trace_path:
            cmd += ["--trace", trace_path]
        self._log = open(os.path.join(workdir, "server.log"), "wb")
        self.t_spawn = time.perf_counter()
        try:
            self.proc = subprocess.Popen(
                cmd, cwd=root, env=env, stdin=subprocess.PIPE,
                stdout=subprocess.PIPE, stderr=self._log,
                start_new_session=True)
        except OSError:
            self._log.close()
            raise
        self.port = 0
        self.boot_s = 0.0
        self._seen: dict[int, str] = {}

    def wait_ready(self) -> None:
        """Block until the server prints its port; raise if it dies."""
        deadline = self.t_spawn + READY_TIMEOUT_S
        out = self.proc.stdout
        while True:
            left = deadline - time.perf_counter()
            if left <= 0 or self.proc.poll() is not None:
                raise RuntimeError(
                    f"server not ready (exit {self.proc.poll()}); "
                    f"see {self._log.name}")
            if select.select([out], [], [], min(left, 1.0))[0]:
                line = out.readline()
                if not line.startswith(b"{"):
                    continue  # the JVM shares this stdout
                self.port = json.loads(line)["port"]
                self.boot_s = time.perf_counter() - self.t_spawn
                self.track()
                return

    def track(self) -> dict[int, str]:
        """Refresh and return the live process tree."""
        live = descendants(self.proc.pid)
        self._seen.update(live)
        return live

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: server Python, JVM and the rest."""
        out = {"py": 0.0, "jvm": 0.0, "workers": 0.0}
        for pid in self.track():
            key = ("py" if pid == self.proc.pid
                   else "jvm" if _comm(pid) == "java" else "workers")
            out[key] += cpu_seconds(pid)
        return out

    def peak_rss(self) -> dict[str, float]:
        live = self.track()
        jvm = [p for p in live if _comm(p) == "java"]
        return {"py": peak_rss_mb(self.proc.pid),
                "jvm": max((peak_rss_mb(p) for p in jvm), default=0.0)}

    def _alive(self) -> list[int]:
        """Tracked processes still running; zombies this process may
        reap (the server, and orphans under ``become_subreaper``) are
        reaped on the way."""
        out = []
        for pid, start in self._seen.items():
            st = _stat(pid)
            if st is None or st[19] != start:
                continue
            if st[0] == "Z":
                if pid != self.proc.pid:
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
                continue
            out.append(pid)
        return out

    def _exists(self) -> bool:
        """Whether any tracked process, zombies included, is left."""
        return any((st := _stat(pid)) is not None and st[19] == start
                   for pid, start in self._seen.items())

    def stop(self, grace_s: float = 30.0) -> None:
        """Close stdin (clean shutdown), then signal whatever is left of
        the tree, and return only once every process in it is gone."""
        if self.proc.poll() is None:
            self.track()
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(grace_s)
        except subprocess.TimeoutExpired:
            pass
        for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
            left = self._alive()
            if not left:
                break
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            end = time.perf_counter() + wait_s
            while self._alive() and time.perf_counter() < end:
                if self.proc.poll() is None:
                    try:
                        self.proc.wait(0.1)
                    except subprocess.TimeoutExpired:
                        pass
                else:
                    time.sleep(0.1)
        self.proc.wait()
        # orphaned zombies (the JVM, the Spark launcher it was exec'd
        # from) come to this process once their parents are gone
        end = time.perf_counter() + 5.0
        while self._exists() and time.perf_counter() < end:
            reap_children()
            time.sleep(0.05)
        self.proc.stdout.close()
        self._log.close()
