"""Spans around the benchmark's calls into the library, Spark event-log
attribution, and the peak resident memory of the driver and its workers.

A span is opened by the benchmark around one public call. In a traced run
it also sets a Spark job group, so the jobs the call submits carry the
span's id in the event log. Jobs submitted from threads the library starts
itself (IvfIndex's build pool) carry no group; they are attributed to the
span whose time window holds their submission time.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from pathlib import Path

class Spans:
    """Records (name, start, end) of each span of one run. ``sc`` is the
    SparkContext whose job group is set while a span is open; None records
    nothing, which is how untimed and untraced runs use the same code."""

    def __init__(self, sc=None, tag: str = ""):
        self.sc = sc
        self.tag = tag
        self.records: list[dict] = []
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        if self.sc is None:
            yield
            return
        gid = f"perfbench-{self.tag}-{len(self.records)}-{name}"
        self.sc.setJobGroup(gid, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.records.append({"name": name, "group": gid, "start_ms": start * 1000.0, "end_ms": end * 1000.0})

    def count(self, name: str, value: float) -> None:
        """An exact count the run observed (rows, pairs, ratios)."""
        if self.sc is not None:
            self.counts[name] = value


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _event_files(log_dir: Path) -> list[Path]:
    """Every event file under ``log_dir``: plain single files, or the
    rolling layout (one ``eventlog_v2_*`` directory of ``events_<n>_*``
    parts, read in part order)."""
    out = []
    for p in sorted(log_dir.iterdir()):
        if p.is_dir():
            parts = [q for q in p.iterdir() if q.name.startswith("events_")]
            out += sorted(parts, key=lambda q: int(q.name.split("_")[1]))
        elif not p.name.startswith("."):
            out.append(p)
    return out


def read_events(log_dir: Path) -> list[dict]:
    events = []
    for f in _event_files(log_dir):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def attribute(events: list[dict], spans: list[dict], cores: int) -> dict[str, dict]:
    """Per span name: wall seconds plus the task metrics of every job the
    span submitted — by job group, else by submission time inside the
    span's window."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    by_group = {s["group"]: s for s in spans}
    for e in events:
        if e.get("Event") == "SparkListenerJobStart":
            jid = e["Job ID"]
            props = e.get("Properties") or {}
            jobs[jid] = {"group": props.get("spark.jobGroup.id"), "submit": e.get("Submission Time", 0)}
            for sid in e.get("Stage IDs", []):
                # a stage runs in the job that created it; later jobs list it as skipped
                stage_job.setdefault(sid, jid)

    def span_of(job: dict):
        if job["group"] in by_group:
            return by_group[job["group"]]
        for s in spans:
            if s["start_ms"] <= job["submit"] <= s["end_ms"]:
                return s
        return None

    acc = {
        s["group"]: {
            "wall_s": (s["end_ms"] - s["start_ms"]) / 1000.0,
            "jobs": 0,
            "task_run_s": 0.0,
            "task_cpu_s": 0.0,
            "gc_s": 0.0,
            "input_bytes": 0,
            "input_records": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "output_bytes": 0,
        }
        for s in spans
    }
    job_span = {}
    for jid, job in jobs.items():
        s = span_of(job)
        if s is not None:
            job_span[jid] = s["group"]
            acc[s["group"]]["jobs"] += 1
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        g = job_span.get(stage_job.get(e.get("Stage ID")))
        m = e.get("Task Metrics")
        if g is None or not m:
            continue
        a = acc[g]
        a["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        a["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        a["input_records"] += m.get("Input Metrics", {}).get("Records Read", 0)
        a["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        a["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        a["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    out = {}
    for s in spans:
        a = acc[s["group"]]
        a["core_idle_share"] = 1.0 - a["task_run_s"] / max(a["wall_s"] * cores, 1e-9)
        out[s["name"]] = a
    return out


# ---------------------------------------------------------------------------
# resident memory of the driver JVM and its Python workers
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, [])
    return out


def reset_peak_rss(root: int) -> None:
    """Reset the peak-RSS mark (VmHWM) of ``root`` and its descendants."""
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w", encoding="ascii") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_bytes(root: int) -> int:
    """Sum of the peak RSS (VmHWM) of ``root`` and every descendant since
    their last reset — the driver JVM plus its Python workers, read after a
    run, with no sampling thread competing with the run."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total
