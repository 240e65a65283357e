"""Measurement plumbing shared by the workloads: spans, job groups,
sample statistics, peak RSS and the host-window probe bracket.

Nothing here imports pyspark at module load; the session is passed in.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from dataclasses import dataclass, field

# Executed-plan nodes that mean rows cross into a Python worker.
PYTHON_PLAN_NODES = (
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "PythonUDTF",
)


@dataclass
class Ctx:
    """State of one benchmark run, passed to every workload hook."""

    workload: str
    work: str
    seed: int
    seconds: float
    traced: bool
    spark: object = None
    tracer: "Tracer" = None
    attempted: int = 0
    failed: int = 0
    wrong: list[str] = field(default_factory=list)  # failed correctness checks
    ops: list[dict] = field(default_factory=list)  # one record per timed op
    setup: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)  # per-layer values measured live
    layer_self: dict = field(default_factory=dict)
    named: dict = field(default_factory=dict)  # workload's named metrics
    extra: dict = field(default_factory=dict)  # metadata for the result file

    def fail(self, what: str) -> None:
        self.wrong.append(what)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


@dataclass
class Tracer:
    """In-memory span recorder. Spans are recorded from the benchmark's
    side of each call into a layer; ``enabled=False`` keeps only the
    plain timings the untraced run needs (no job groups, no spans)."""

    sc: object = None
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str, op: str | None = None, group: str | None = None):
        return _SpanCtx(self, name, op, group)

    def self_times(self) -> list[float]:
        """Per span: duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_end = 0.0, s.start
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, cur_end), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append(s.end - s.start - covered)
        return out

    def to_json(self) -> list[dict]:
        st = self.self_times()
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
             "op": s.op, "self_s": st[i]}
            for i, s in enumerate(self.spans)
        ]


class _SpanCtx:
    def __init__(self, tr: Tracer, name: str, op, group):
        self.tr, self.name, self.op, self.group = tr, name, op, group
        self.elapsed = 0.0

    def __enter__(self):
        tr = self.tr
        if tr.enabled and self.group is not None:
            tr.sc.setJobGroup(self.group, self.name)
        if tr.enabled:
            parent = tr._stack[-1] if tr._stack else None
            op = self.op
            if op is None and parent is not None:
                op = tr.spans[parent].op
            tr.spans.append(Span(self.name, 0.0, 0.0, parent, op))
            self.idx = len(tr.spans) - 1
            tr._stack.append(self.idx)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        t1 = time.perf_counter()
        self.elapsed = t1 - self.t0
        tr = self.tr
        if tr.enabled:
            sp = tr.spans[self.idx]
            sp.start, sp.end = self.t0, t1
            tr._stack.pop()
            if self.group is not None:
                # jobs outside any group span must not count toward this one
                tr.sc.setJobGroup("idle", "between spans")
        return False


def plan_phases(df) -> dict[str, float]:
    """Force Catalyst optimization + physical planning on ``df``'s own
    QueryExecution and return the tracker's phase durations (s) plus
    whether the executed plan crosses into Python. Analysis already ran
    eagerly when the DataFrame was built."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        ph = phases.get(k)
        if ph.isDefined():
            s = ph.get()
            out[k] = (s.endTimeMs() - s.startTimeMs()) / 1e3
        else:
            out[k] = 0.0
    out["python"] = any(n in plan for n in PYTHON_PLAN_NODES)
    return out


def quantile(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1])."""
    s = sorted(xs)
    if len(s) == 1:
        return s[0]
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def timing(xs: list[float]) -> dict:
    """Median with its sample count."""
    return {"n": len(xs), "p50": statistics.median(xs) if xs else None}


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of one process, from /proc."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def probe_window(root: str) -> dict:
    """Host-window bracket from the repo's own probes (metadata only):
    aggregate md5 rate and streaming copy bandwidth at 4 processes."""
    tools = os.path.join(root, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from cpu_probe import aggregate_rate
    from membw_probe import aggregate_gbps

    return {
        "cpu_md5_per_s_p4": aggregate_rate(4, 0.1),
        "membw_gbps_p4": aggregate_gbps(4, 8, 4),
    }
