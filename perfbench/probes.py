"""Measurement plumbing: in-memory spans, /proc readings and the Spark event
log parser. Everything here observes the program from outside; nothing in
the engine is patched."""

from __future__ import annotations

import glob
import json
import os
import time
import uuid
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """One span per timed call: (name, start, end, parent), all under one run
    id. Spans stay in memory until ``dump``. Disabled tracers still time the
    call (the runner needs the wall) but record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        t0 = time.perf_counter()
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["wall_s"]
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name: duration minus the part of it
        covered by direct children (children never overlap: one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["wall_s"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + s["wall_s"] - child[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, run_id=self.run_id)) + "\n")


# --- /proc -------------------------------------------------------------------

def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after the closing paren
    return raw[raw.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            st = _stat(int(p))
            if st is not None:
                parent[int(p)] = int(st[1])
    out, frontier = [], [pid]
    while frontier:
        nxt = [c for c, pp in parent.items() if pp in frontier]
        out += nxt
        frontier = nxt
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """utime + stime of ``pid`` (plus its reaped children's with ``reaped``)."""
    st = _stat(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _TICK


def hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Procs:
    """The three process classes of a local-mode run: this driver process,
    the JVM it launched, and the Python workers under the JVM."""

    def __init__(self, spark):
        self.driver = os.getpid()
        self.jvm = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def workers(self) -> list[int]:
        return children(self.jvm)

    def cpu(self) -> dict[str, float]:
        return {
            "driver": cpu_s(self.driver),
            "jvm": cpu_s(self.jvm),
            # reaped: a worker that exits mid-op still lands in its parent
            "pyworker": sum(cpu_s(p, reaped=True) for p in self.workers()),
        }

    def peak_rss(self) -> dict[str, float]:
        """VmHWM (MiB) per process class, and the live worker count."""
        workers = self.workers()
        return {"driver": hwm_mb(self.driver), "jvm": hwm_mb(self.jvm),
                "pyworker": sum(hwm_mb(p) for p in workers),
                "n_pyworkers": len(workers)}


def jvm_gc_s(spark) -> float:
    """Summed collection time of the driver JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this guest, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


# --- Spark event log ---------------------------------------------------------

def _event_lines(log_dir: str):
    """Lines of the one application log in ``log_dir``: a plain file, or
    (rolling logs) an eventlog_v2_* directory of events_<n>_* parts."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {apps}")
    files = [apps[0]] if os.path.isfile(apps[0]) else sorted(
        glob.glob(os.path.join(apps[0], "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]))
    for p in files:
        with open(p) as f:
            yield from f


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """-> (jobs [{id, submit_ms}], tasks [{launch_ms, finish_ms, run_s,
    cpu_s, gc_s, shuffle_write_b}])."""
    jobs, tasks = [], []
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append({"id": ev["Job ID"], "submit_ms": ev["Submission Time"]})
        elif kind == "SparkListenerTaskEnd":
            info, m = ev["Task Info"], ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "launch_ms": info["Launch Time"],
                "finish_ms": info["Finish Time"],
                "run_s": m.get("Executor Run Time", 0) / 1e3,
                "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
            })
    return jobs, tasks


def op_event_metrics(op: dict, jobs: list[dict], tasks: list[dict]) -> dict:
    """Event-log metrics of one op ({'start', 'end'} epoch seconds).

    Jobs are counted by job-id range: the ids submitted inside the op's
    window span [lo, hi], and since ops run one at a time every id in that
    range belongs to the op, including jobs started from helper threads that
    carry no job group. Task time is what ran inside the window; the driver
    gap is the window's wall time during which no task ran at all."""
    lo_ms, hi_ms = op["start"] * 1e3, op["end"] * 1e3
    ids = [j["id"] for j in jobs if lo_ms <= j["submit_ms"] <= hi_ms]
    mine = [t for t in tasks if lo_ms <= t["launch_ms"] <= hi_ms]
    busy, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((t["launch_ms"], min(t["finish_ms"], hi_ms)) for t in mine):
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                busy += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        busy += cur_hi - cur_lo
    return {
        "spark.jobs_per_op": (max(ids) - min(ids) + 1) if ids else 0,
        "spark.task_s": sum(t["run_s"] for t in mine),
        "spark.task_cpu_s": sum(t["cpu_s"] for t in mine),
        "spark.gc_s": sum(t["gc_s"] for t in mine),
        "spark.shuffle_write_mb": sum(t["shuffle_write_b"] for t in mine) / 2**20,
        "spark.driver_gap_s": max(0.0, (hi_ms - lo_ms - busy) / 1e3),
    }


def dir_size(path: str) -> tuple[float, int]:
    """(MiB, data files) under ``path`` (0, 0 when it does not exist yet);
    Spark's hidden and marker files are excluded."""
    mb, n = 0.0, 0
    for dirpath, _d, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            mb += os.path.getsize(os.path.join(dirpath, fn)) / 2**20
            n += 1
    return mb, n
