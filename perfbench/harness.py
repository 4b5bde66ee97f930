"""Measurement plumbing shared by the workloads: spans, the op ledger,
process-tree memory sampling, Spark event-log counters and summary statistics.

Nothing here touches the package under test; spans are recorded around the
benchmark's own calls into it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import sys
import threading
import time

SPAN_PROPERTY = "perfbench.span"


# ------------------------------------------------------------------ stats

def p50(values):
    return statistics.median(values) if values else None


def tail(values):
    """Highest percentile with at least ten samples beyond it.

    Returns (value, percentile).  With fewer than 20 samples no percentile
    above the median has ten samples beyond it, so the median is returned
    and labelled p50; the caller records the sample count beside it."""
    n = len(values)
    if n == 0:
        return None, None
    if n < 20:
        return statistics.median(values), 50.0
    pct = 100.0 * (1.0 - 10.0 / n)
    ordered = sorted(values)
    # nearest-rank percentile: exactly ten samples lie strictly beyond it
    return ordered[n - 11], round(pct, 1)


# ------------------------------------------------------------------ spans

class Tracer:
    """Spans around the benchmark's calls into the package.

    Every span yields a record whose ``dt`` is its wall time, traced or not,
    so the workloads time their operations through one mechanism.  When
    tracing is on, records also keep start, end, parent and run id in
    memory (written once by :meth:`dump`), and the span id is set as a
    Spark local property so the event log ties each job to its span."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "dt": 0.0, **attrs}
        if self.enabled:
            rec.update(
                id=len(self.spans),
                parent=self._stack[-1] if self._stack else None,
                run=self.run_id,
            )
            self.spans.append(rec)
            self._stack.append(rec["id"])
            self._set_property(rec["id"])
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["dt"] = t1 - t0
            if self.enabled:
                rec["start"], rec["end"] = t0, t1
                self._stack.pop()
                self._set_property(self._stack[-1] if self._stack else None)

    def _set_property(self, span_id):
        if self.sc is not None:
            self.sc.setLocalProperty(
                SPAN_PROPERTY, None if span_id is None else str(span_id)
            )

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def descendants(self, root_id: int) -> set[int]:
        kids: dict[int, list[int]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s["id"])
        out, todo = set(), [root_id]
        while todo:
            i = todo.pop()
            out.add(i)
            todo.extend(kids.get(i, []))
        return out

    def dump(self, path: str, jobs: dict, stages: list[dict], per_layer: dict) -> None:
        """Write the spans once, each with its self time (duration minus
        its children's) and the Spark counters of the jobs it submitted
        itself, plus the run's per-layer metrics."""
        child_s: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] = child_s.get(s["parent"], 0.0) + s["dt"]
        spans = [
            {k: v for k, v in s.items() if k != "dt"}
            | {"self_s": s["dt"] - child_s.get(s["id"], 0.0)}
            | spark_counters(jobs, stages, {s["id"]})
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": spans, "per_layer": per_layer}, f)


# ------------------------------------------------------------ op ledger

class Ledger:
    """Operations attempted and failed; a failed or wrong output counts."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, name: str, ok: bool, detail="") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")
            print(f"perfbench: check failed: {name}: {detail}", file=sys.stderr)
        return ok


# ------------------------------------------------------------ host CPU

def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    time the hypervisor gave this machine's CPUs to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


# --------------------------------------------------------------- memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces: fields after the closing paren are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of the Python processes in ``root_pid``'s tree:
    the benchmark's own process and the JVM's Python workers, where the
    package's code runs.
    PSS splits pages shared by the forked workers among them, so idle
    workers do not count the libraries they share again.  The JVM (comm
    ``java``) is left out: its resident heap follows GC timing more than
    the workload."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    continue
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class MemorySampler:
    """Background sampler of the process tree's summed PSS (psutil-free)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


# ------------------------------------------------------------ event log

def _event_file_order(path: str):
    name = os.path.basename(path)
    parts = name.split("_")
    return (os.path.dirname(path), int(parts[1]) if parts[1].isdigit() else 0)


def read_event_log(log_dir: str) -> tuple[dict, list[dict]]:
    """Spark counters from the event log Spark wrote under log_dir.

    Jobs and stages are attributed to the span whose id was the
    ``perfbench.span`` local property when they were submitted; tasks
    follow their stage.  Returns (jobs per span id, one record per stage
    that ran)."""
    jobs: dict[int, int] = {}
    stages: dict[int, dict] = {}
    # Spark 4 rolls event logs by default: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=_event_file_order):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    if sid is not None:
                        jobs[int(sid)] = jobs.get(int(sid), 0) + 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    stages[ev["Stage Info"]["Stage ID"]] = {
                        "span": None if sid is None else int(sid),
                        "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
                        "task_gc_s": 0.0, "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0,
                    }
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if st is None or not m:
                        continue
                    rd = m.get("Shuffle Read Metrics", {})
                    st["tasks"] += 1
                    st["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    st["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    st["task_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    st["shuffle_read_bytes"] += rd.get(
                        "Remote Bytes Read", 0
                    ) + rd.get("Local Bytes Read", 0)
                    st["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}
                    ).get("Shuffle Bytes Written", 0)
    return jobs, list(stages.values())


SPARK_COUNTERS = (
    "tasks", "task_run_s", "task_cpu_s", "task_gc_s",
    "shuffle_read_bytes", "shuffle_write_bytes",
)


def spark_counters(jobs: dict, stages: list[dict], span_ids: set) -> dict:
    """Summed Spark counters of the jobs and stages under ``span_ids``."""
    out = {"jobs": sum(n for sid, n in jobs.items() if sid in span_ids)}
    mine = [st for st in stages if st["span"] in span_ids]
    out["stages"] = len(mine)
    for k in SPARK_COUNTERS:
        out[k] = sum(st[k] for st in mine)
    return out
