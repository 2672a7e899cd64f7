"""Spans, per-layer self times, Spark task metrics and process memory.

Spans are ``{"id", "name", "start", "end", "parent", "pass"}`` dicts
timed with ``time.time()``, which every process on the host shares, so
driver spans and Python-worker spans land on one clock.  The driver
keeps its spans in memory.  A worker appends the spans of one Arrow
batch to ``<span_dir>/<pid>.jsonl`` when the batch ends; the driver
reads them back after the pass.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import statistics
import time

from vision_parse_spark.operators import pipeline


class Tracer:
    """Driver-side span recorder."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self._ids = itertools.count()
        self.pass_id: str | None = None

    def new_id(self) -> str:
        return f"d{next(self._ids)}"

    @property
    def current(self) -> str | None:
        return self._stack[-1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str, span_id: str | None = None):
        sid = span_id or self.new_id()
        rec = {"id": sid, "name": name, "parent": self.current,
               "pass": self.pass_id, "start": time.time()}
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def wrap(self, module, attr: str, name: str):
        """Context manager that replaces ``module.attr`` by a function
        recording a span named ``name`` around each call."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        @contextlib.contextmanager
        def patched():
            setattr(module, attr, traced)
            try:
                yield
            finally:
                setattr(module, attr, orig)

        return patched()


class _WorkerLayer:
    """Wraps one layer function inside a Python worker: records a span
    and the layer's work counts for each call."""

    def __init__(self, name: str, fn, spans: list, parent: str, count):
        self.name, self.fn, self.spans = name, fn, spans
        self.parent, self.count = parent, count

    def __call__(self, *args, **kwargs):
        start = time.time()
        out = self.fn(*args, **kwargs)
        rec = {"name": self.name, "parent": self.parent, "start": start,
               "end": time.time()}
        rec.update(self.count(args, kwargs, out))
        self.spans.append(rec)
        return out


def _classify_counts(args, kwargs, out):
    return {"rows": len(out), "text_rows": int(out["text_detected"].sum())}


def _markdown_counts(args, kwargs, out):
    return {"rows": len(out)}


def _images_counts(args, kwargs, out):
    return {"regions": len(out), "skipped": len(kwargs.get("skipped_out") or [])}


class TracedKernel:
    """Stands in for ``pipeline.extract_pandas`` while ``extract()``
    builds a traced pass, so the traced stage ships this object to the
    Python workers, where the module is unpatched.  Each call patches
    the kernel's three layer entry points for the duration of one batch,
    runs the library kernel, and writes the batch's spans to
    ``span_dir``."""

    LAYERS = (
        ("classify_batch", "functions.classify", _classify_counts),
        ("format_markdown_batch", "functions.markdown", _markdown_counts),
        ("extract_images_from_marker_text", "operators.images", _images_counts),
    )

    def __init__(self, span_dir: str, parent: str, pass_id: str):
        self.span_dir, self.parent, self.pass_id = span_dir, parent, pass_id

    def __call__(self, pdf, cfg):
        spans: list[dict] = []
        kid = f"w{os.getpid()}-{time.time_ns()}"
        saved = {attr: getattr(pipeline, attr) for attr, _, _ in self.LAYERS}
        for attr, name, count in self.LAYERS:
            setattr(pipeline, attr, _WorkerLayer(name, saved[attr], spans, kid, count))
        start = time.time()
        try:
            # the worker's own module still holds the library kernel
            out = pipeline.extract_pandas(pdf, cfg)
        finally:
            for attr, fn in saved.items():
                setattr(pipeline, attr, fn)
        spans.append({"id": kid, "name": "operators.pipeline.extract_pandas",
                      "parent": self.parent, "start": start, "end": time.time(),
                      "rows": len(pdf)})
        for s in spans:
            s["pass"] = self.pass_id
            s.setdefault("id", f"{kid}-{id(s)}")
        with open(os.path.join(self.span_dir, f"{os.getpid()}.jsonl"), "a") as f:
            f.write("".join(json.dumps(s) + "\n" for s in spans))
        return out


def read_worker_spans(span_dir: str) -> list[dict]:
    spans = []
    for name in sorted(os.listdir(span_dir)):
        with open(os.path.join(span_dir, name)) as f:
            spans.extend(json.loads(line) for line in f)
    return spans


def self_times(spans: list[dict]) -> dict[str, float]:
    """Busy seconds per span name: each span's duration minus the part
    of its interval covered by its children, summed over spans.
    Parallel worker spans add up, so these are core-seconds."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        covered, hi = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, hi), min(b, s["end"])
            if b > a:
                covered += b - a
                hi = b
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
    return out


def wall_attribution(spans: list[dict], root: dict) -> dict[str, float]:
    """Split ``root``'s wall time over span names.  In each instant the
    innermost active spans (those with no active child) share it
    equally, so the shares sum to the root's duration exactly; what
    lands on ``root`` itself is time no other span covers."""
    inside = [s for s in spans if s is not root
              and s["end"] > root["start"] and s["start"] < root["end"]]
    inside.append(root)
    cuts = sorted({min(max(t, root["start"]), root["end"])
                   for s in inside for t in (s["start"], s["end"])})
    out: dict[str, float] = {}
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        active = [s for s in inside if s["start"] <= mid < s["end"]]
        parents = {s.get("parent") for s in active}
        leaves = [s for s in active if s["id"] not in parents]
        for s in leaves:
            out[s["name"]] = out.get(s["name"], 0.0) + (b - a) / len(leaves)
    return out


def read_task_ends(event_dir: str) -> list[dict]:
    """``SparkListenerTaskEnd`` records of the event logs in ``event_dir``,
    flattened to launch/finish times (s) and the metrics used here."""
    tasks = []
    paths = sorted(os.path.join(d, f) for d, _, files in os.walk(event_dir)
                   for f in files if not f.startswith("appstatus"))
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append({
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                    .get("Shuffle Bytes Written", 0),
                    "spill": m.get("Disk Bytes Spilled", 0),
                })
    return tasks


def task_metrics(tasks: list[dict], start: float, end: float, cores: int) -> dict:
    """Task metrics of the tasks launched within ``[start, end]``."""
    inside = [t for t in tasks if start <= t["launch"] <= end]
    busy = sum(t["finish"] - t["launch"] for t in inside)
    by_stage: dict = {}
    for t in inside:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    skew = 1.0
    if by_stage:
        # the stage holding the most task time sets the pass's critical path
        times = max(by_stage.values(), key=sum)
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
    return {
        "tasks": len(inside),
        "core_busy_frac": busy / ((end - start) * cores),
        "shuffle_write_bytes": sum(t["shuffle_write"] for t in inside),
        "spill_bytes": sum(t["spill"] for t in inside),
        "task_skew": skew,
    }


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of peak resident set sizes (VmHWM) of ``pid`` and all its
    descendants: the driver, the JVM it launched, and the JVM's Python
    daemon and workers."""
    kids = _children()
    todo, total_kb = [pid or os.getpid()], 0
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
