"""In-memory spans around calls into the engine's layers, plus attribution of
Spark's own per-stage counters to those spans.

A span records a name, an operation id, its parent span, and start/end
times. While a span is open its id is the Spark job group, so every job the
engine submits inside it carries the id; after the session stops, the
Spark event log is read back and each job's stages (tasks, run time, GC,
input and shuffle bytes, per-task durations) are added to the span that
submitted it. Nothing here runs inside the engine: spans open and close in
the benchmark's own code, and the inner layer functions it wraps are
wrapped by replacing module attributes for the traced run only.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from pathlib import Path


class Tracer:
    """Collects spans in memory; ``write`` dumps them once the run ends."""

    def __init__(self):
        self.sc = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._restore: list[tuple] = []
        self._op = 0
        self.bookkeeping_s = 0.0

    def bind(self, sc) -> None:
        """Attach the SparkContext whose job group follows the open span
        (rebinding after a context restart)."""
        self.sc = sc

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setJobGroup("", "")
        else:
            self.sc.setJobGroup(span["id"], span["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        """Open a span; a span with no parent starts a new operation id."""
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op += 1
        sp = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "op": self._op,
            "parent": parent["id"] if parent else None,
            "start": 0.0,
            "end": 0.0,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        sp["start"] = time.perf_counter()
        self.bookkeeping_s += sp["start"] - t0
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp["end"] = t1
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - t1

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, fn))

    def unwrap(self) -> None:
        for owner, attr, fn in reversed(self._restore):
            setattr(owner, attr, fn)
        self._restore.clear()

    # ---- post-run analysis ---------------------------------------------

    def finish(self) -> None:
        """Compute each span's duration and self time (duration minus the
        union of its children's intervals)."""
        children: dict[str, list[dict]] = {}
        for sp in self.spans:
            if sp["parent"] is not None:
                children.setdefault(sp["parent"], []).append(sp)
        for sp in self.spans:
            sp["dur_s"] = sp["end"] - sp["start"]
            covered, cur_end = 0.0, sp["start"]
            for c in sorted(children.get(sp["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], sp["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            sp["self_s"] = sp["dur_s"] - covered

    def attribute(self, event_logs: list[Path]) -> None:
        """Add Spark counters from the event logs (one per SparkContext) to
        the spans whose job group submitted them."""
        by_id = {sp["id"]: sp for sp in self.spans}
        for sp in self.spans:
            sp.update(jobs=0, stages=0, tasks=0, run_s=0.0, gc_s=0.0,
                      input_bytes=0, shuffle_bytes=0, task_ms={})
        for log in event_logs:
            self._attribute_log(log, by_id)

    @staticmethod
    def _attribute_log(event_log: Path, by_id: dict) -> None:
        stage_span: dict[int, dict] = {}
        with open(event_log) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    sp = by_id.get(group)
                    if sp is None:
                        continue
                    sp["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_span[sid] = sp
                elif kind == "SparkListenerStageCompleted":
                    sp = stage_span.get(ev["Stage Info"]["Stage ID"])
                    if sp is not None:
                        sp["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sp = stage_span.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if sp is None or not m:
                        continue
                    sp["tasks"] += 1
                    sp["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    sp["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sp["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sp["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    sp["task_ms"].setdefault(str(ev["Stage ID"]), []).append(
                        m.get("Executor Run Time", 0)
                    )

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        out, frontier = [], [root["id"]]
        while frontier:
            pid = frontier.pop()
            for sp in self.spans:
                if sp["id"] == pid:
                    out.append(sp)
                elif sp["parent"] == pid:
                    frontier.append(sp["id"])
        return out

    def total(self, root: dict, key: str) -> float:
        """Sum of an attributed counter over ``root``'s subtree."""
        return sum(sp[key] for sp in self.subtree(root))

    def max_task_ratio(self, root: dict, min_tasks: int = 4) -> float:
        """Largest per-stage max/median task run time in ``root``'s subtree
        (stages with at least ``min_tasks`` tasks) — the skew signal."""
        best = 0.0
        for sp in self.subtree(root):
            for times in sp["task_ms"].values():
                if len(times) >= min_tasks:
                    med = statistics.median(times)
                    best = max(best, max(times) / med if med > 0 else 0.0)
        return best

    def find(self, name: str) -> list[dict]:
        return [sp for sp in self.spans if sp["name"] == name]

    def write(self, path: Path) -> None:
        """One JSON object per span, times relative to the first span."""
        t0 = min((sp["start"] for sp in self.spans), default=0.0)
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                row = {k: v for k, v in sp.items() if k != "task_ms"}
                row["start"] = round(sp["start"] - t0, 6)
                row["end"] = round(sp["end"] - t0, 6)
                f.write(json.dumps(row) + "\n")


def event_logs(log_dir: Path) -> list[Path]:
    """The uncompressed, non-rolling event logs a run leaves behind, one per
    SparkContext it started."""
    if not log_dir.is_dir():
        return []
    return sorted(p for p in log_dir.iterdir() if p.is_file() and not p.name.startswith("."))


def event_log_conf(log_dir: Path) -> dict[str, str]:
    """Session settings for the traced run only."""
    log_dir.mkdir(parents=True, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this Python process plus the driver JVM, in MB."""
    total_kb = 0
    for pid in ("self", str(jvm_pid) if jvm_pid else None):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except FileNotFoundError:
            pass
    return total_kb / 1024.0


def dir_bytes(path: str | os.PathLike) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())
