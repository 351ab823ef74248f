"""Spans for the traced run, recorded from the benchmark side.

A span is (name, start, end, parent, request id) plus counters that a
wrapped call's ``count`` hook adds. Every span runs under its own Spark
job group, so ``statusTracker`` gives the jobs it started, and the event
log (enabled only in traced runs) gives the shuffle and spill bytes of
those jobs. Spans stay in memory and are written out once, when the run
ends.

Layer spans come from wrapping entry points of the program's modules
for the duration of the run (``Tracer.wrap``); nothing inside
``typesense_spark`` changes.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Records spans while ``enabled``; a disabled tracer is a no-op, so
    the untraced run executes the same benchmark code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patches: list[tuple[object, str, object]] = []
        self.request = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": self.request,
            "start": time.perf_counter(),
            "end": None,
            "group": f"pb-{len(self.spans)}",
        }
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s["group"], name)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            s["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(s["group"]))
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def wrap(self, owner, attr: str, name: str, count=None):
        """Replace ``owner.attr`` with a spanned call; ``count(span, args,
        kwargs, result)`` may add counters to the span. Untraced runs, and
        entry points the program no longer has, stay unwrapped."""
        if not self.enabled or not hasattr(owner, attr):
            return
        orig = getattr(owner, attr)

        def wrapped(*args, **kwargs):
            if not self.enabled:
                return orig(*args, **kwargs)
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if count is not None:
                    count(s, args, kwargs, out)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def unwrap_all(self):
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str):
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    def named(self, name: str, under: dict | None = None) -> list[dict]:
        pool = self.subtree(under) if under else self.spans
        return [s for s in pool if s["name"] == name]

    def subtree(self, span: dict) -> list[dict]:
        """A span and all its descendants."""
        out, frontier = [span], {span["id"]}
        for s in self.spans[span["id"] + 1 :]:
            if s["parent"] in frontier:
                out.append(s)
                frontier.add(s["id"])
        return out

    def jobs_under(self, span: dict) -> int:
        return sum(s["jobs"] for s in self.subtree(span))


def seconds(spans: list[dict]) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def event_log_bytes(ev_dir: str) -> dict[str, list[int]]:
    """{job group: [shuffle write bytes, memory + disk spill bytes]} from
    the Spark event log (task-end metrics, attributed to a group through
    the stages its jobs submitted)."""
    stage_group: dict[int, str] = {}
    per_stage: dict[int, list[int]] = {}
    for path in glob.glob(os.path.join(ev_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path, errors="ignore") as f:
            for line in f:
                if '"SparkListenerJobStart"' in line:
                    d = json.loads(line)
                    group = (d.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        for sid in d.get("Stage IDs", []):
                            stage_group[sid] = group
                elif '"SparkListenerTaskEnd"' in line:
                    d = json.loads(line)
                    m = d.get("Task Metrics") or {}
                    acc = per_stage.setdefault(d["Stage ID"], [0, 0])
                    acc[0] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    acc[1] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    out: dict[str, list[int]] = {}
    for sid, (sh, sp) in per_stage.items():
        g = stage_group.get(sid)
        if g is not None:
            acc = out.setdefault(g, [0, 0])
            acc[0] += sh
            acc[1] += sp
    return out
