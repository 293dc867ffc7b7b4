"""Measurement from outside the program: spans around calls into each
layer's public functions, Spark's own records (event log, status
tracker, streaming progress), process-tree memory and host load.

Spans are kept in memory and written out with the run's artifact. A
span has a name, start, end, the span that caused it and the run id;
self time is its duration minus the part its children cover.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled  # layer wrappers and traced passes on
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self.root: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        # callbacks from Spark threads (foreachBatch) hang off the root span
        parent = stack[-1] if stack else self.root
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None, **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def count(self, name: str) -> None:
        with self._lock:
            self.counts[name] += 1

    def patch(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a ``name`` span
        and a ``name.calls`` count. ``before(args, kwargs)`` runs first and
        its value is passed as the last argument of ``after(result, args,
        kwargs, state)``, which runs after a successful call; both run
        inside the span."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            tracer.count(f"{name}.calls")
            with tracer.span(name) as rec:
                state = before(args, kwargs) if before is not None else None
                res = orig(*args, **kwargs)
                if isinstance(res, bool):
                    rec["result"] = res
                if after is not None:
                    after(res, args, kwargs, state)
                return res

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the union of its children's
        intervals (clipped to the parent)."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

def read_event_log(log_dir: str) -> dict:
    """Jobs (submission time ms, stage ids) and per-stage task metric sums
    from the (uncompressed, possibly rolling) event log under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "t": ev["Submission Time"],
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    st = stages[ev["Stage ID"]]
                    st["tasks"] += 1
                    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return {"jobs": jobs, "stages": stages}


def spark_totals(log: dict, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Sum the jobs submitted inside any of ``windows`` (epoch seconds) and
    the stages and tasks they ran. A stage skipped because its shuffle
    output was reused has no tasks and is not counted."""
    out = defaultdict(float)
    for job in log["jobs"].values():
        t = job["t"] / 1000.0
        if not any(a <= t <= b for a, b in windows):
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if not st:
                continue
            out["stages"] += 1
            for k, v in st.items():
                out[k] += v
    return {
        "spark.jobs": out["jobs"],
        "spark.stages": out["stages"],
        "spark.tasks": out["tasks"],
        "spark.executor_cpu_s": out["cpu_s"],
        "spark.executor_run_s": out["run_s"],
        "spark.gc_s": out["gc_s"],
        "spark.shuffle_read_bytes": out["shuffle_read"],
        "spark.shuffle_write_bytes": out["shuffle_write"],
        "spark.spill_bytes": out["spill"],
    }


# ---------------------------------------------------------------------------
# process tree memory, host load
# ---------------------------------------------------------------------------

class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and its Python workers), sampled once a second. A shorter period
    competes with the run's own Python threads for the interpreter lock."""

    PERIOD_S = 1.0

    def __init__(self) -> None:
        self.peak_bytes = 0
        self.peak_detail: list[tuple[str, int]] = []  # (command, rss) at the peak
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.PERIOD_S):
            self.sample()

    def sample(self) -> None:
        children: dict[int, list[int]] = defaultdict(list)
        procs: dict[int, tuple[str, int, bool]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    head, rest = fh.read().rsplit(")", 1)
            except OSError:
                continue
            fields = rest.split()
            children[int(fields[1])].append(int(d))
            # name, rss pages, forked-but-not-exec'd flag (PF_FORKNOEXEC)
            procs[int(d)] = (head.split("(", 1)[1], int(fields[21]), bool(int(fields[6]) & 0x40))
        tree, todo = [], [(os.getpid(), 0)]
        while todo:
            pid, parent_rss = todo.pop()
            if pid not in procs:
                continue
            name, rss, no_exec = procs[pid]
            # a child the JVM spawns with vfork runs in its parent's memory
            # until it execs and reads the parent's RSS: count that memory once
            if not (no_exec and abs(rss - parent_rss) <= 0.02 * parent_rss):
                tree.append((name, rss * self._page))
            todo.extend((c, rss) for c in children.get(pid, ()))
        total = sum(r for _, r in tree)
        if total > self.peak_bytes:
            self.peak_bytes = total
            self.peak_detail = sorted(tree, key=lambda t: -t[1])


def host_telemetry() -> dict:
    t: dict = {"cpus": len(os.sched_getaffinity(0))}
    try:
        t["loadavg"] = [float(x) for x in open("/proc/loadavg").read().split()[:3]]
    except OSError:
        pass
    for path in ("/sys/fs/cgroup/cpu.pressure", "/proc/pressure/cpu"):
        try:
            with open(path) as fh:
                t["cpu_pressure"] = fh.read().strip().splitlines()
            break
        except OSError:
            continue
    return t


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
