"""Spans around the package's layer boundaries, and the Spark event log.

The benchmark's traced run patches the public functions of each layer
(from outside the package) so every call records a span
``(name, start, end, parent, op_id)``. Spans stay in memory and are
summarised when the run ends. A span's self time is its duration minus
the part of it that its child spans cover.

Job, stage and task counts come from Spark's own event log, read after
the session stops: every benchmark operation runs under
``setJobGroup(op_id)``, so each job is attributed to the operation that
fired it. Polling Spark's status tracker around every span would cost
far more than the spans themselves.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import time
from collections import defaultdict
from dataclasses import dataclass
from typing import Callable


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: str | None


class Tracer:
    """In-memory span recorder with monkey-patching helpers.

    Wrappers stay installed for the whole run; ``enabled`` switches
    recording on and off, so set-up operations leave no spans.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op_id: str | None = None
        # called with "<op_id>:s<span index>" on entry and the parent's
        # group on exit, so Spark jobs can be attributed to spans
        self.set_group: Callable[[str], None] | None = None
        self.counters: dict[str, int] = defaultdict(int)
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op_id))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        if self.set_group:
            self.set_group(f"{self.op_id}:s{idx}")
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        self.spans[idx].end = time.perf_counter()
        # pop through idx: an exception may have skipped inner ends
        while self._stack and self._stack.pop() != idx:
            pass
        if self.set_group:
            top = self._stack[-1] if self._stack else None
            self.set_group(self.op_id if top is None else f"{self.op_id}:s{top}")

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper recording span `name`.

        Patch every place a function is looked up: a module that did
        ``from x import f`` holds its own reference, which patching
        ``x.f`` does not reach.
        """
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        new = staticmethod(wrapper) if isinstance(orig, staticmethod) else wrapper
        setattr(owner, attr, new)
        self._patched.append((owner, attr, orig))

    def unpatch_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the union of its children's intervals
    (clipped to the parent)."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, [])):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append((s.end - s.start) - covered)
    return out


# -- Spark event log ---------------------------------------------------

SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "task_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_udf_s",
)


# SQL metric of Python UDF operators; starting and initialising the
# workers are counted apart
PYTHON_RUN_TIME = "time to run Python workers"


def _roll_index(path: str) -> tuple:
    """Order rolling event-log files (events_<n>_<app>) by n."""
    m = re.search(r"events_(\d+)_", os.path.basename(path))
    return (int(m.group(1)) if m else 0, path)


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Spark runtime totals per job group, from an uncompressed event
    log. Jobs without a group are keyed ``""``."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {k: 0.0 for k in SPARK_FIELDS}
    )
    # Spark 4 writes a directory of rolling files per application
    paths = [p for p in glob.glob(f"{log_dir}/**", recursive=True) if os.path.isfile(p)]
    for path in sorted(paths, key=_roll_index):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "")]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    d = out[stage_group.get(ev.get("Stage ID"), "")]
                    d["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    d["task_s"] += m.get("Executor Run Time", 0) / 1e3
                    d["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    d["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    d["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}
                    ).get("Shuffle Bytes Written", 0)
                    d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") == PYTHON_RUN_TIME:
                            # a timing SQL metric, in ms
                            d["python_udf_s"] += float(acc.get("Update") or 0) / 1e3
    return dict(out)
