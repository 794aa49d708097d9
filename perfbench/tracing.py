"""Tracing for the benchmark's traced runs (``--trace 1``).

Spans are recorded from the benchmark's own files only: around the public
calls it makes, and around ``jcpg_spark.io.write_table`` / ``read_table``
by patching those module attributes for the duration of a traced call.
Spans are kept in memory and written out once, at exit. While a span is
open its path is the Spark job description, so the event log attributes
every stage to the span that caused it.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory spans (name, start, end, parent). Disabled tracers record
    nothing and never touch the Spark job description."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    def path(self) -> str:
        return "/".join(self.spans[i]["name"] for i in self._stack)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None,
               "idx": len(self.spans), "start": time.perf_counter(), **attrs}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec["path"] = self.path()
        self.sc.setJobDescription(rec["path"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setJobDescription(self.path() or None)

    @contextmanager
    def patched(self, module, attr: str, span_name: str, on_result=None):
        """Wrap ``module.attr`` in a span while the block runs."""
        if not self.enabled:
            yield
            return
        orig = getattr(module, attr)

        def wrapper(*args, **kwargs):
            with self.span(span_name) as rec:
                out = orig(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, kwargs, out)
                return out

        setattr(module, attr, wrapper)
        try:
            yield
        finally:
            setattr(module, attr, orig)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, idx: int) -> float:
        """Span duration minus the part of it its direct children cover
        (children are sequential: one driver thread)."""
        rec = self.spans[idx]
        kids = sum(self.duration(s) for s in self.spans if s["parent"] == idx)
        return self.duration(rec) - kids

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        out = [
            {**{k: v for k, v in s.items() if k not in ("start", "end")},
             "start_s": round(s["start"] - t0, 6), "dur_s": round(self.duration(s), 6),
             "self_s": round(self.self_time(i), 6)}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"spans": out, **extra}, f, indent=1)


def eventlog_metrics(event_dir: str, prefix: str) -> tuple[dict, dict]:
    """Stage metrics from the Spark event log for jobs whose description
    starts with ``prefix``. -> (totals, per-description breakdown)."""
    stage_desc: dict[int, str] = {}
    tasks = []
    for fn in sorted(os.listdir(event_dir)):
        with open(os.path.join(event_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description")
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    per_stage = defaultdict(list)
    per_desc = defaultdict(lambda: defaultdict(float))
    totals = defaultdict(float)
    for ev in tasks:
        desc = stage_desc.get(ev["Stage ID"])
        if not desc or not desc.startswith(prefix):
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        dur = (info["Finish Time"] - info["Launch Time"]) / 1000
        per_stage[(ev["Stage ID"], ev.get("Stage Attempt ID", 0))].append(dur)
        sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        row = {
            "shuffle_write_mb": sw / 2**20,
            "shuffle_read_mb": (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 2**20,
            "spill_mb": (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 2**20,
            "gc_s": m.get("JVM GC Time", 0) / 1000,
            "task_s": dur,
            "failed_tasks": 1.0 if info.get("Failed") else 0.0,
            "tasks": 1.0,
        }
        for k, v in row.items():
            totals[k] += v
            per_desc[desc][k] += v
    # skew of the heaviest stage: its slowest task over its median task
    heavy = max(per_stage.values(), key=sum, default=[])
    totals["task_skew"] = (max(heavy) / statistics.median(heavy)
                           if heavy and statistics.median(heavy) > 0 else 1.0)
    totals["stages"] = float(len(per_stage))
    return dict(totals), {d: dict(v) for d, v in per_desc.items()}


def _descendants(root_pid: int) -> list[int]:
    """Live processes descending from ``root_pid``, ``root_pid`` excluded:
    the Spark driver JVM and its Python workers, not the benchmark's own
    interpreter."""
    children = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        children[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    out, todo = [], list(children[root_pid])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def peak_rss_mb(root_pid: int) -> float:
    """Sum of VmHWM (peak resident set) over the descendants of ``root_pid``."""
    total_kb = 0
    for pid in _descendants(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process (the driver
    side of the program: plan building, py4j calls, result decoding) and
    its descendants (the Spark JVM and its Python workers; their reaped
    children count too, so Python workers that exited are included)."""
    own = os.times()
    ticks = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return own.user + own.system + ticks / os.sysconf("SC_CLK_TCK")
