"""Spans recorded around calls into the engine's layers, and the Spark
event log folded per job group.

Tracing lives entirely in the benchmark: layer functions are wrapped at
the module attribute their callers look up, every span is kept in
memory, and the spans are written out once, when the run ends. The
thread is single (a closed-loop client), so child spans never overlap
and a span's self time is its duration minus its children's.
"""

from __future__ import annotations

import contextlib
import glob
import json
import statistics
import time
from collections import defaultdict


class Tracer:
    """Records ``(name, start, end, parent, op, unit)`` spans, and the
    durations of the calls wrapped as ops, traced or not."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_times: list[float] = []
        self.unit: str | None = None
        # artifact serve-log entries drained by a traced get_or_build
        self.served: list[tuple[str, str]] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": parent, "op": op, "unit": self.unit, **attrs}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str, path_arg: int | None = None,
             after=None, op: bool = False):
        """Replace ``module.attr`` with a spanned call. Positional
        argument ``path_arg`` (a table path) is kept on the span;
        ``after(span)`` runs when the call has returned. With tracing
        off the call is not spanned, but an ``op`` call is still timed
        into ``op_times``."""
        orig = getattr(module, attr)

        def spanned(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                if not self.enabled:
                    return orig(*args, **kwargs)
                extra = {}
                if path_arg is not None and len(args) > path_arg:
                    extra["path"] = str(args[path_arg])
                with self.span(name, **extra) as rec:
                    out = orig(*args, **kwargs)
                    if after is not None:
                        after(rec)
                    return out
            finally:
                if op:
                    self.op_times.append(time.perf_counter() - t0)

        setattr(module, attr, spanned)
        self._patched.append((module, attr, orig))

    def restore(self) -> None:
        while self._patched:
            module, attr, orig = self._patched.pop()
            setattr(module, attr, orig)
        self.enabled = False

    def self_times(self) -> dict[str, float]:
        """Self time per span name, summed over every span."""
        dur = [s["end"] - s["start"] for s in self.spans]
        child = defaultdict(float)
        for s, d in zip(self.spans, dur):
            if s["parent"] is not None:
                child[s["parent"]] += d
        out: dict[str, float] = defaultdict(float)
        for i, (s, d) in enumerate(zip(self.spans, dur)):
            out[s["name"]] += d - child[i]
        return dict(out)

    def total(self, unit: int, name: str, where=None, outermost=False) -> float:
        """Summed duration of ``name`` spans in ``unit``; ``outermost``
        skips spans nested inside another span of the same name."""
        tot = 0.0
        for s in self.spans:
            if s["unit"] != unit or s["name"] != name:
                continue
            if where is not None and not where(s):
                continue
            if outermost and self._has_ancestor(s, name):
                continue
            tot += s["end"] - s["start"]
        return tot

    def _has_ancestor(self, span: dict, name: str) -> bool:
        p = span["parent"]
        while p is not None:
            if self.spans[p]["name"] == name:
                return True
            p = self.spans[p]["parent"]
        return False

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "self_time_s": self.self_times(),
                       "spans": self.spans}, f)


def _int(v) -> int:
    try:
        return int(v)
    except (TypeError, ValueError):
        return 0


STAGE_ACCUMULABLES = {
    "run_ms": "internal.metrics.executorRunTime",
    "cpu_ns": "internal.metrics.executorCpuTime",
    "gc_ms": "internal.metrics.jvmGCTime",
    "shuffle_write_b": "internal.metrics.shuffle.write.bytesWritten",
    "shuffle_remote_b": "internal.metrics.shuffle.read.remoteBytesRead",
    "shuffle_local_b": "internal.metrics.shuffle.read.localBytesRead",
    "spill_disk_b": "internal.metrics.diskBytesSpilled",
    "input_b": "internal.metrics.input.bytesRead",
}

# A stage enters the skew figure only when it ran at least this many
# tasks for at least this much executor time: one-task stages have no
# skew, and millisecond stages turn scheduling jitter into ratios.
SKEW_MIN_TASKS = 2
SKEW_MIN_RUN_MS = 100


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: job count, stage count, task count, the summed
    stage accumulables, and the worst task skew (max / median executor
    run time over one stage's tasks)."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    stage_group: dict[int, str] = {}
    task_ms: dict[int, list[int]] = defaultdict(list)
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id") or "-"
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                    groups[g]["jobs"] += 1
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    task_ms[ev["Stage ID"]].append(_int(m.get("Executor Run Time")))
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = groups[stage_group.get(info["Stage ID"], "-")]
                    g["stages"] += 1
                    g["tasks"] += _int(info.get("Number of Tasks"))
                    acc = {a.get("Name"): a.get("Value")
                           for a in info.get("Accumulables", [])}
                    for key, name in STAGE_ACCUMULABLES.items():
                        g[key] += _int(acc.get(name))
                    ts = task_ms.pop(info["Stage ID"], [])
                    med = statistics.median(ts) if ts else 0
                    if (len(ts) >= SKEW_MIN_TASKS and sum(ts) >= SKEW_MIN_RUN_MS
                            and med > 0):
                        g["task_skew"] = max(g["task_skew"], max(ts) / med)
    return {k: dict(v) for k, v in groups.items()}
