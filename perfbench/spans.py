"""Spans, process-tree memory and Spark event-log accounting for the benchmark.

Everything here is recorded from the benchmark's side of the package
boundary: spans wrap calls into the package's public functions, and the
Spark event log gives per-task metrics that are attributed to spans through
the job group each span sets.
"""

from __future__ import annotations

import contextlib
import json
import os
import signal
import statistics
import threading
import time


class Tracer:
    """In-memory span recorder.  Disabled, ``span`` costs one branch.

    A span is ``{id, name, start, end, parent, rid, thread, attrs}`` with
    epoch-second times.  Nesting is tracked per thread; a span opened with
    ``group`` also sets that Spark job group on the calling thread, so the
    event log can charge the span's jobs to it."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.sc = None  # SparkContext, set once the session exists
        self._lock = threading.Lock()
        self._local = threading.local()
        self._t0_perf = time.perf_counter()
        self._t0_wall = time.time()

    def now(self) -> float:
        return self._t0_wall + (time.perf_counter() - self._t0_perf)

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None,
             group: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else None
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid, "name": name, "start": self.now(), "end": None,
                "parent": parent["id"] if parent else None,
                "rid": rid if rid is not None else (
                    parent["rid"] if parent else None),
                "thread": threading.current_thread().name,
                "attrs": attrs,
            }
            self.spans.append(rec)
        prev_group = None
        if group is not None and self.sc is not None:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(group, name)
            rec["group"] = group
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = self.now()
            if group is not None and self.sc is not None:
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev_group, "")

    def record(self, name: str, start: float, end: float, parent: dict,
               **attrs) -> None:
        """Add a finished span whose bounds were measured elsewhere, as a
        child of ``parent`` (a span that may still be open on another
        thread)."""
        if not self.enabled:
            return
        with self._lock:
            self.spans.append({
                "id": len(self.spans), "name": name, "start": start,
                "end": end, "parent": parent["id"], "rid": parent["rid"],
                "thread": threading.current_thread().name, "attrs": attrs,
            })

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"spans": self.spans}, f)
        os.replace(tmp, path)


def _interval_union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _covering(spans: list[dict]):
    """(children, served): finished child intervals per parent span id,
    and intervals of spans that served each request id on another thread
    (their ``attrs["rids"]``)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    served: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["end"] is None:
            continue
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        for rid in s["attrs"].get("rids") or ():
            served.setdefault(rid, []).append((s["start"], s["end"]))
    return kids, served


def _covered(s: dict, kids, served) -> float:
    """Seconds of span ``s`` covered by its children and, for a root
    span, by the spans that served its request, clipped to ``s``."""
    a, b = s["start"], s["end"]
    parts = kids.get(s["id"], [])
    if s["parent"] is None:
        parts = parts + served.get(s["rid"], [])
    return _interval_union([
        (max(x, a), min(y, b)) for x, y in parts if y > a and x < b])


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per layer (span-name prefix before the first '.'): the sum of span
    durations minus the part covered by child spans (see ``_covered``)."""
    kids, served = _covering(spans)
    out: dict[str, float] = {}
    for s in spans:
        if s["end"] is None:
            continue
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + (
            s["end"] - s["start"] - _covered(s, kids, served))
    return out


def blocking_coverage(spans: list[dict],
                      root_names: tuple[str, ...]) -> dict[str, tuple]:
    """Per root span name: (covered seconds, wall seconds, roots) summed
    over the finished root spans (no parent) of that name.  A root is
    covered by its children and by the spans on other threads that served
    it (see ``_covered``)."""
    kids, served = _covering(spans)
    out: dict[str, tuple] = {}
    for s in spans:
        if (s["name"] not in root_names or s["parent"] is not None
                or s["end"] is None):
            continue
        c, w, n = out.get(s["name"], (0.0, 0.0, 0))
        out[s["name"]] = (c + _covered(s, kids, served),
                          w + s["end"] - s["start"], n + 1)
    return out


# -- process tree ------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state first,
    then ppid, ...); None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # comm may hold spaces and parens: the fields resume after the last ')'
    return stat.rsplit(")", 1)[1].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit() and (fields := _stat(int(d))) is not None:
            kids.setdefault(int(fields[1]), []).append(int(d))
    return kids


def descendants(root: int) -> set[int]:
    kids = _children_map()
    out, todo = set(), [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class TreeWatch:
    """Samples the summed RSS of this process and all its descendants (the
    driver JVM and its Python workers) and remembers every descendant, so
    they can be reaped after the session stops (workers outlive the JVM as
    orphans, no longer under this process)."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.seen: dict[int, str] = {}  # pid -> start time (pids get reused)
        self._stop = threading.Event()
        self._thread = threading.Thread(
            target=self._loop, name="perfbench-rss", daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        tree = descendants(me)
        self._remember(tree)
        total = sum(_rss_bytes(p) for p in tree | {me})
        self.peak_bytes = max(self.peak_bytes, total)

    def _remember(self, pids) -> None:
        for p in pids:
            if p not in self.seen and (fields := _stat(p)) is not None:
                self.seen[p] = fields[19]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "TreeWatch":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

    def reap(self, timeout_s: float = 20.0) -> None:
        """Wait for every process ever seen under this one to end; TERM then
        KILL whatever outlives ``timeout_s``."""
        self._remember(descendants(os.getpid()))
        deadline = time.monotonic() + timeout_s
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            alive = [p for p, start in self.seen.items() if _alive(p, start)]
            if not alive:
                return
            if sig is not None:
                for p in alive:
                    with contextlib.suppress(OSError):
                        os.kill(p, sig)
            while time.monotonic() < deadline and any(
                    _alive(p, self.seen[p]) for p in alive):
                time.sleep(0.1)
            deadline = time.monotonic() + 5.0


def _alive(pid: int, start: str) -> bool:
    fields = _stat(pid)
    if fields is None or fields[19] != start:  # gone, or the pid was reused
        return False
    if fields[0] == "Z":  # our own zombie child: collect it
        with contextlib.suppress(ChildProcessError, OSError):
            os.waitpid(pid, os.WNOHANG)
        return False
    return True


# -- Spark event log -----------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """{jobs: {job_id: {group, submit_ms, stages}}, stages: {stage_id:
    {tasks, run_ms, launch_ms, finish_ms, shuffle_write, spill, in_bytes,
    in_records}}} from the (uncompressed) event log files in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    files = sorted(
        os.path.join(d, n) for d, _dirs, names in os.walk(log_dir)
        for n in names if not n.startswith("appstatus"))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "submit_ms": ev.get("Submission Time"),
                        "stages": list(ev.get("Stage IDs") or []),
                    }
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "launch_ms": None,
                        "finish_ms": None, "shuffle_write": 0, "spill": 0,
                        "in_bytes": 0, "in_records": 0,
                    })
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    st["tasks"] += 1
                    st["run_ms"] += int(m.get("Executor Run Time") or 0)
                    lt, ft = info.get("Launch Time"), info.get("Finish Time")
                    if lt:
                        st["launch_ms"] = lt if st["launch_ms"] is None else min(
                            st["launch_ms"], lt)
                    if ft:
                        st["finish_ms"] = max(st["finish_ms"] or 0, ft)
                    sw = m.get("Shuffle Write Metrics") or {}
                    st["shuffle_write"] += int(sw.get("Shuffle Bytes Written") or 0)
                    st["spill"] += int(m.get("Memory Bytes Spilled") or 0) + int(
                        m.get("Disk Bytes Spilled") or 0)
                    im = m.get("Input Metrics") or {}
                    st["in_bytes"] += int(im.get("Bytes Read") or 0)
                    st["in_records"] += int(im.get("Records Read") or 0)
    return {"jobs": jobs, "stages": stages}


def group_totals(log: dict, prefix: str) -> dict:
    """Task totals over the jobs whose job group starts with ``prefix``.
    A stage listed by several jobs is counted once."""
    seen: set[int] = set()
    out = {"jobs": 0, "tasks": 0, "run_s": 0.0, "shuffle_write": 0,
           "spill": 0, "stage_ids": []}
    for job in log["jobs"].values():
        if not (job["group"] or "").startswith(prefix):
            continue
        out["jobs"] += 1
        for sid in job["stages"]:
            st = log["stages"].get(sid)
            if st is None or sid in seen:
                continue
            seen.add(sid)
            out["stage_ids"].append(sid)
            out["tasks"] += st["tasks"]
            out["run_s"] += st["run_ms"] / 1e3
            out["shuffle_write"] += st["shuffle_write"]
            out["spill"] += st["spill"]
    return out


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(xs[-1]), 100.0, n
    idx = n - 11  # xs[idx] has exactly ten samples above it
    return float(xs[idx]), 100.0 * (idx + 1) / n, n
