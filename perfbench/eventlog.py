"""Spark event-log reader for the traced run.

Spark 4.1 writes ``events_*.zstd`` (rolling v2 layout) by default; this
reader decodes zstd with the ``zstd`` command-line tool and reads plain
logs as they are. A log that decodes to no events raises, so a traced run
can never report empty execution metrics by accident.

Stages and SQL executions are attributed to the job group that was set
when their job started; the benchmark names groups ``<op>/<phase>``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


def log_files(path: str) -> list[str]:
    """Event-log files under ``path`` (a file, or a v2 rolling dir tree)."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for name in sorted(os.listdir(path)):
        sub = os.path.join(path, name)
        if os.path.isdir(sub):
            out.extend(log_files(sub))
        elif not name.startswith(".") and "appstatus" not in name:
            out.append(sub)
    return out


# the only event kinds the rollup reads; other lines are skipped unparsed
KINDS = ("SparkListenerJobStart", "SparkListenerTaskEnd", SQL_START, SQL_END)


def _lines(path: str):
    """Yield the lines of one log file, decoding zstd with the CLI."""
    if not (path.endswith(".zstd") or path.endswith(".zst")):
        with open(path, encoding="utf-8") as fh:
            yield from fh
        return
    exe = shutil.which("zstd")
    if exe is None:
        raise RuntimeError(f"{path}: zstd-compressed event log and no zstd CLI")
    with subprocess.Popen([exe, "-dc", path], stdout=subprocess.PIPE) as proc:
        yield from (line.decode("utf-8") for line in proc.stdout)
    if proc.returncode != 0:
        raise RuntimeError(f"zstd -dc {path} exited {proc.returncode}")


def read_events(path: str) -> list[dict]:
    """The events of KINDS in every log file under ``path``."""
    events, lines = [], 0
    for f in log_files(path):
        for line in _lines(f):
            lines += 1
            head = line[:120]
            if any(f'"Event":"{k}"' in head for k in KINDS):
                events.append(json.loads(line))
    if lines == 0 or not events:
        raise RuntimeError(f"event log at {path} decoded to no events")
    return events


class EventLog:
    """Per-job-group rollup of stage, task and SQL-execution events."""

    def __init__(self, events: list[dict]):
        self.stage_group: dict[int, str] = {}
        self.exec_group: dict[int, str] = {}
        self.job_group: dict[int, str] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.sql: dict[int, dict] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id") or ""
                self.job_group[ev["Job ID"]] = g
                for sid in ev.get("Stage IDs", []):
                    self.stage_group.setdefault(sid, g)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    self.exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerTaskEnd":
                self.tasks[ev["Stage ID"]].append(ev)
            elif kind == SQL_START:
                self.sql[ev["executionId"]] = {
                    "start": ev["time"], "end": None,
                    "plan": ev.get("physicalPlanDescription", ""),
                }
            elif kind == SQL_END and ev["executionId"] in self.sql:
                self.sql[ev["executionId"]]["end"] = ev["time"]

    def jobs_in(self, match) -> int:
        return sum(1 for g in self.job_group.values() if match(g))

    def stage_metrics(self, match) -> dict:
        """Task-metric totals over every stage whose job group satisfies
        ``match`` (a predicate on the group name)."""
        tot = defaultdict(float)
        widest: list[float] = []
        for sid, g in self.stage_group.items():
            tasks = self.tasks.get(sid)
            if not tasks or not match(g):
                continue
            tot["stages"] += 1
            durs = []
            for ev in tasks:
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                run = m.get("Executor Run Time", 0) / 1e3
                deser = m.get("Executor Deserialize Time", 0) / 1e3
                ser = m.get("Result Serialization Time", 0) / 1e3
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1e3
                getting = info.get("Getting Result Time", 0) / 1e3
                durs.append(dur)
                tot["tasks"] += 1
                tot["run_s"] += run
                tot["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                tot["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics") or {}
                tot["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / 1e6
                sw = m.get("Shuffle Write Metrics") or {}
                tot["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                tot["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / 1e6
                tot["scheduler_delay_s"] += max(0.0, dur - run - deser - ser - getting)
            if len(durs) > len(widest):
                widest = durs
        med = statistics.median(widest) if widest else 0.0
        tot["task_skew"] = max(widest) / med if med > 0 else 1.0
        return dict(tot)

    def sql_seconds(self, match, plan_match) -> float:
        """Wall seconds of the SQL executions in matching groups whose
        physical plan text satisfies ``plan_match``."""
        s = 0.0
        for eid, rec in self.sql.items():
            g = self.exec_group.get(eid)
            if g is None or not match(g) or rec["end"] is None:
                continue
            if plan_match(rec["plan"]):
                s += (rec["end"] - rec["start"]) / 1e3
        return s
