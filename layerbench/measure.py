"""Measurement helpers: in-memory spans, process-tree CPU/RSS, host facts
and folding of the Spark event log into per-layer counters.

Everything here observes the engine from outside: spans wrap calls into
the engine's public functions, and executor-side facts come from the
Spark event log that a traced session writes.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

CLK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Spans kept in memory: name, start, end, parent id, attributes.
    Disabled tracers still hand out ids but record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next = 0
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = self._next
        self._next += 1
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "start": time.perf_counter(), **attrs}
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def wrap(self, module, attr: str, span_name: str) -> None:
        """Route every module-level binding of ``module.attr`` inside the
        engine package through a span, so calls the engine makes to it
        internally are timed too. Engine modules imported later keep the
        original; ``undo`` restores every binding."""
        import sys

        orig = getattr(module, attr)

        def wrapped(*a, **k):
            with self.span(span_name):
                return orig(*a, **k)

        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "") or ""
            if name.startswith("intake_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapped)
                self._patched.append((mod, attr, orig))

    def undo(self) -> None:
        for mod, attr, orig in self._patched:
            setattr(mod, attr, orig)
        self._patched.clear()

    def totals(self, pass_filter) -> dict[str, tuple[float, int]]:
        """{span name: (total seconds, count)} over spans whose ``pass``
        attribute (inherited from the enclosing op span) passes the filter."""
        by_id = {s["id"]: s for s in self.spans}

        def pass_of(s):
            while s is not None:
                if "pass" in s:
                    return s["pass"]
                s = by_id.get(s["parent"])
            return None

        out: dict[str, list] = defaultdict(lambda: [0.0, 0])
        for s in self.spans:
            if not pass_filter(pass_of(s)):
                continue
            out[s["name"]][0] += s["end"] - s["start"]
            out[s["name"]][1] += 1
        return {k: (v[0], v[1]) for k, v in out.items()}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids[ppid].append(int(d))
    return kids


def tree_pids() -> list[int]:
    """This process and every descendant (JVM, Python daemon, workers)."""
    kids = _children()
    out, todo = [], [os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s() -> float:
    """user+sys CPU seconds of the process tree, including reaped children
    (a forked Python worker's CPU lands in its parent's cutime on exit)."""
    total = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])
        except (OSError, IndexError, ValueError):
            continue
    return total / CLK


def tree_pss_mb() -> float:
    """Summed proportional set size of the tree: RSS with pages shared
    between processes (forked Python workers share the daemon's) counted
    once in total instead of once per process."""
    total_kb = 0
    for p in tree_pids():
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total_kb / 1024


class RssSampler:
    """Background thread sampling the tree's summed PSS every 0.25 s;
    ``peak`` is the max."""

    def __init__(self):
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_mb())
            self._stop.wait(0.25)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_pss_mb())


def proc_stat() -> tuple[int, int]:
    """(steal ticks, total ticks) of the host's cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def host_facts(stat0, stat1, wall_s: float, cpu_s: float, cores: int, heap: str) -> dict:
    steal = (stat1[0] - stat0[0]) / max(1, stat1[1] - stat0[1])
    return {
        "steal_pct": 100.0 * steal,
        "wall_per_cpu": wall_s / cpu_s if cpu_s > 0 else 0.0,
        "loadavg": list(os.getloadavg()),
        "heap": heap,
        "cores": cores,
    }


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """{job group: counters} from the uncompressed Spark event log(s)
    under ``log_dir``: jobs, stages, tasks, failed tasks, executor run/
    CPU/GC/deserialize ms, shuffle bytes, and Python-stage count/run ms
    (a stage is a Python stage when it reports Python-worker metrics)."""
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    stage_group: dict[int, str] = {}
    stage_run: dict[int, float] = defaultdict(float)
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    python_stages: set[int] = set()
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    groups[g]["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g is None:
                        continue
                    groups[g]["stages"] += 1
                    if any("Python workers" in a.get("Name", "") for a in info["Accumulables"]):
                        python_stages.add(info["Stage ID"])
                        groups[g]["python_stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    tm = ev.get("Task Metrics")
                    if g is None or tm is None:
                        continue
                    c = groups[g]
                    c["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        c["tasks_failed"] += 1
                    c["run_ms"] += tm["Executor Run Time"]
                    c["cpu_ms"] += tm["Executor CPU Time"] / 1e6
                    c["gc_ms"] += tm["JVM GC Time"]
                    c["deser_ms"] += tm["Executor Deserialize Time"]
                    sr = tm["Shuffle Read Metrics"]
                    c["shuffle_read_bytes"] += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
                    c["shuffle_write_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    stage_run[ev["Stage ID"]] += tm["Executor Run Time"]
    for sid in python_stages:
        groups[stage_group[sid]]["python_run_ms"] += stage_run[sid]
    return {g: dict(c) for g, c in groups.items()}
