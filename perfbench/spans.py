"""Spans, self time, the process tree and host state for the benchmark.

``Tracer`` records spans (name, start, end, parent) in memory around the
benchmark's own calls into the program's layers and writes them to one
JSON file at the end.  Spans are named ``<layer>:<operation>`` with the
layer taken from the module the call enters (``streaming.pipeline``,
``streaming.sink``, ``operators.project``, ``operators.sharding``,
``chproto``, ``plans.queries``, ``functions.chdialect``).  A disabled
tracer keeps no spans, so untraced runs pay one attribute check per call.
``adopt_orphans`` and ``end_descendants`` make sure no process the run
started outlives it: the JVM, Spark's Python workers and the helpers.
"""

from __future__ import annotations

import ctypes
import json
import os
import signal
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.extra: list[dict] = []  # spans measured elsewhere (Spark progress)
        # parent for spans opened on a thread with no open span: foreachBatch
        # calls the sink on an engine callback thread, not the caller's
        self.default_parent: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()  # spans open on several threads at once

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        rec = {"name": name, "parent": stack[-1] if stack else self.default_parent,
               "start": time.monotonic(), "end": None, **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec["id"]
        finally:
            stack.pop()
            rec["end"] = time.monotonic()

    @contextmanager
    def root(self, name: str, **attrs):
        """A span that also parents spans opened on other threads while it
        is open (the sink, called by the engine inside a stream)."""
        with self.span(name, **attrs) as sid:
            outer, self.default_parent = self.default_parent, sid
            try:
                yield sid
            finally:
                self.default_parent = outer

    def add(self, name: str, start_wall: float, end_wall: float, **attrs):
        """Record a span timed elsewhere, in wall-clock seconds (the
        engine's trigger timings); it is kept on the spans' clock."""
        if self.enabled:
            shift = time.monotonic() - time.time()
            self.extra.append({"name": name, "start": start_wall + shift,
                               "end": end_wall + shift, **attrs})

    def durations(self, name: str, parents=None) -> list[float]:
        """Durations of the closed spans called ``name`` (only those under
        one of ``parents``, when given)."""
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None
                and (parents is None or s["parent"] in parents)]

    def self_times(self) -> dict[str, float]:
        """Per layer: total span time minus the part covered by child spans."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            layer = s["name"].split(":", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, **report) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "engine_spans": self.extra,
                       "self_time_s": self.self_times(), **report}, f)


def _children(pid: int) -> list[int]:
    """Child pids of every thread of ``pid`` (the JVM starts Spark's Python
    workers from a thread other than its main one)."""
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
        except OSError:
            pass
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n, so a tree's sum counts forked workers' shared
    pages once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, ValueError):
        pass
    return 0


class TreeRss:
    """Samples the summed resident memory (PSS) of this process and its
    descendants (the Python driver, the JVM and Spark's Python workers),
    leaving out the subtrees of the benchmark's own helper processes."""

    def __init__(self, exclude: set[int] | None = None, interval: float = 0.5):
        self.exclude = exclude if exclude is not None else set()
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_bytes(pid)
            todo.extend(_children(pid))
        self.peak = max(self.peak, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of its orphaned descendants (Linux), so
    that a Python worker whose JVM exits first is still found and waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants() -> list[int]:
    out, todo = [], _children(os.getpid())
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 15.0) -> None:
    """Stop every process this run started and wait until each has ended.
    The JVM goes first, by closing its stdin: it then exits by itself and
    runs Spark's shutdown hooks, which delete its scratch directories.
    Whatever is still running after ``grace_s`` gets SIGTERM, then SIGKILL."""
    pyspark = sys.modules.get("pyspark")
    gateway = pyspark.SparkContext._gateway if pyspark is not None else None
    jvm = getattr(gateway, "proc", None)
    if jvm is not None and jvm.stdin is not None:
        jvm.stdin.close()
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        for pid in _descendants() if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while True:
            _reap()
            if not _descendants():
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    raise RuntimeError(f"processes still running: {_descendants()}")


def _busy_jiffies() -> float:
    """Host-wide non-idle CPU time (user..steal fields of /proc/stat)."""
    with open("/proc/stat") as f:
        vals = [float(x) for x in f.readline().split()[1:9]]
    return sum(vals) - vals[3] - vals[4]


class HostState:
    """Load averages and busy cores over the run, from /proc."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()
        self.busy_start = _busy_jiffies()
        self.wall_start = time.monotonic()

    def report(self) -> dict:
        busy = _busy_jiffies() - self.busy_start
        wall = max(time.monotonic() - self.wall_start, 1e-9)
        return {
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "cpus": os.cpu_count(),
            "busy_cores_avg": round(busy / os.sysconf("SC_CLK_TCK") / wall, 2),
        }
