"""Spans recorded around the calls the benchmark makes into each layer,
the ``sources.tables`` hooks used only in traced runs, and the Spark
event-log summary.

A span has a name, start, end, parent span and the run id. Spans stay in
memory and are written once, when the run ends (``Tracer.dump``).
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

from host import file_sizes


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    @contextmanager
    def paused(self):
        """Run the body untraced (the reference for the tracing overhead)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (e.g. rebuilt from timings)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "run": self.run_id,
                               "parent": parent, "start": start, "end": end, **attrs})

    def dump(self, path: Path) -> None:
        if self.enabled:
            path.parent.mkdir(parents=True, exist_ok=True)
            with open(path, "w") as fh:
                for s in self.spans:
                    fh.write(json.dumps(s) + "\n")

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def count(self, name: str) -> int:
        return sum(1 for s in self.spans if s["name"] == name)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Per span name: duration minus the part of it its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# ------------------------------------------------------- sources.tables hooks
_HOOKED = (("SnapshotTable", "append"), ("SnapshotTable", "write"),
           ("SnapshotTable", "write_rows"), ("MorTable", "write"),
           ("MorTable", "commit_wave"), ("MorTable", "compact"))


def _parquet_stats(d: Path) -> tuple[int, int]:
    sizes = [s for p, s in file_sizes(d).items() if p.endswith(".parquet")]
    return sum(sizes), len(sizes)


@contextmanager
def hooked_tables(tracer: Tracer, io: dict):
    """Wrap the public write methods of ``sources.tables`` in spans named
    ``tables.<table>.<method>`` and add the parquet bytes and files each
    outermost call wrote to ``io[<table>]``. Restores the methods on exit."""
    from playwrightcrawler_spark.sources import tables

    saved = []
    depth = {"n": 0}

    def wrap(fn, method):
        @functools.wraps(fn)
        def inner(self, *a, **kw):
            outer = depth["n"] == 0
            before = _parquet_stats(self.dir) if outer else None
            depth["n"] += 1
            try:
                with tracer.span(f"tables.{self.name}.{method}"):
                    return fn(self, *a, **kw)
            finally:
                depth["n"] -= 1
                if outer:
                    after = _parquet_stats(self.dir)
                    acc = io.setdefault(self.name, {"bytes": 0, "files": 0})
                    acc["bytes"] += max(0, after[0] - before[0])
                    acc["files"] += max(0, after[1] - before[1])
        return inner

    for cls_name, method in _HOOKED:
        cls = getattr(tables, cls_name)
        fn = cls.__dict__[method]
        saved.append((cls, method, fn))
        setattr(cls, method, wrap(fn, method))
    try:
        yield
    finally:
        for cls, method, fn in saved:
            setattr(cls, method, fn)


# ----------------------------------------------------------- Spark event log
def _acc(stage: dict) -> dict[str, float]:
    out = {}
    for a in stage.get("Accumulables", []):
        try:
            out[a["Name"]] = float(a.get("Value", 0))
        except (TypeError, ValueError):
            continue
    return out


def eventlog_summary(log_dir: Path, windows: list[tuple[float, float]]) -> dict:
    """Stage and job totals for the stages submitted inside ``windows``
    (epoch seconds), summed over every event log in ``log_dir``."""
    def inside(ms):
        t = ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    tot = {"stages": 0, "tasks": 0, "task_run_s": 0.0, "task_cpu_s": 0.0,
           "gc_s": 0.0, "deser_s": 0.0, "shuffle_write_bytes": 0,
           "input_bytes": 0, "spill_bytes": 0, "jobs": 0}
    for f in sorted(log_dir.glob("*")):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerJobStart" and inside(e["Submission Time"]):
                    tot["jobs"] += 1
                elif ev == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    if "Submission Time" not in si or not inside(si["Submission Time"]):
                        continue
                    acc = _acc(si)
                    m = "internal.metrics."
                    tot["stages"] += 1
                    tot["tasks"] += si["Number of Tasks"]
                    tot["task_run_s"] += acc.get(m + "executorRunTime", 0) / 1e3
                    tot["task_cpu_s"] += acc.get(m + "executorCpuTime", 0) / 1e9
                    tot["gc_s"] += acc.get(m + "jvmGCTime", 0) / 1e3
                    tot["deser_s"] += acc.get(m + "executorDeserializeTime", 0) / 1e3
                    tot["shuffle_write_bytes"] += int(acc.get(m + "shuffle.write.bytesWritten", 0))
                    tot["input_bytes"] += int(acc.get(m + "input.bytesRead", 0))
                    tot["spill_bytes"] += int(acc.get(m + "memoryBytesSpilled", 0)
                                              + acc.get(m + "diskBytesSpilled", 0))
    return tot
