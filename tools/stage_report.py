"""Per-stage evidence from Spark event logs (the falsifiable side of the
scaling-ceiling argument in BASELINE.md §5): for each stage, wall time,
summed executor run/GC/deserialize time, and shuffle bytes.

Usage: python tools/stage_report.py <event-log-file-or-dir> [...]
Prints one line per stage that ran (wall = first task launch to last
task finish) plus a totals line per application. Reads
Spark's default ``events_*.zstd`` rolling logs as well as plain ones
(decoding is perfbench/eventlog.py's). Exits 1 when a log yields no
events.

Reading the output for an N-vs-4N pair:
  * flat total executor CPU + ~4x lower wall  -> clean scaling
  * inflated executor CPU at 4N               -> shuffle serde / GC cost
  * flat CPU + <4x wall                       -> host contention /
    scheduling (compare against the bracketing CPU probes)
"""

from __future__ import annotations

import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import log_files, read_events  # noqa: E402


def app_logs(path: str) -> list[str]:
    """One path per application: a single-file log, or the directory of a
    v2 rolling log (``eventlog_v2_<app>/events_*``)."""
    out = []
    for f in log_files(path):
        parent = os.path.dirname(f)
        app = parent if os.path.basename(parent).startswith("eventlog_v2_") else f
        if app not in out:
            out.append(app)
    return out


def report(path: str, events: list[dict]) -> None:
    stages: dict[int, dict] = defaultdict(
        lambda: {"run_ms": 0, "gc_ms": 0, "deser_ms": 0, "tasks": 0,
                 "sh_read": 0, "sh_write": 0, "start": None, "end": 0,
                 "name": "?"}
    )
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            for info in ev.get("Stage Infos", []):
                name = info.get("Stage Name", "?").split("\n")[0][:48]
                stages[info["Stage ID"]]["name"] = name
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            s = stages[ev["Stage ID"]]
            s["tasks"] += 1
            s["run_ms"] += m.get("Executor Run Time", 0)
            s["gc_ms"] += m.get("JVM GC Time", 0)
            s["deser_ms"] += m.get("Executor Deserialize Time", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            s["sh_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            s["sh_write"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            launch = info.get("Launch Time", 0)
            s["start"] = launch if s["start"] is None else min(s["start"], launch)
            s["end"] = max(s["end"], info.get("Finish Time", 0))

    tot = {"run_ms": 0, "gc_ms": 0, "wall_ms": 0, "sh_read": 0, "sh_write": 0}
    print(f"== {path}")
    print(f"{'stage':>5} {'tasks':>5} {'wall_s':>8} {'cpu_s':>8} "
          f"{'gc_s':>6} {'shR_MB':>8} {'shW_MB':>8}  name")
    for sid in sorted(stages):
        s = stages[sid]
        if not s["tasks"]:  # listed by a job but skipped (shuffle reuse)
            continue
        s["wall_ms"] = s["end"] - s["start"]  # first launch to last finish
        print(f"{sid:>5} {s['tasks']:>5} {s['wall_ms']/1e3:>8.1f} "
              f"{s['run_ms']/1e3:>8.1f} {s['gc_ms']/1e3:>6.1f} "
              f"{s['sh_read']/1e6:>8.1f} {s['sh_write']/1e6:>8.1f}  {s['name']}")
        for k in tot:
            tot[k] += s[k]
    print(f"TOTAL wall={tot['wall_ms']/1e3:.1f}s cpu={tot['run_ms']/1e3:.1f}s "
          f"gc={tot['gc_ms']/1e3:.1f}s shuffleR={tot['sh_read']/1e6:.0f}MB "
          f"shuffleW={tot['sh_write']/1e6:.0f}MB")


def main(argv: list[str]) -> int:
    for arg in argv:
        for app in app_logs(arg):
            try:
                events = read_events(app)
            except RuntimeError as e:  # no events, or zstd failed
                print(f"error: {e}", file=sys.stderr)
                return 1
            report(app, events)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
