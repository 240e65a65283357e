"""tools/stage_report.py reads Spark's default zstd-compressed rolling
event logs and fails loudly on a log with no events."""

from __future__ import annotations

import json
import shutil
import subprocess

import pytest

from tools.stage_report import main

pytestmark = pytest.mark.skipif(
    shutil.which("zstd") is None, reason="event-log decoding needs the zstd CLI"
)


def _task_end(stage, launch, finish, run_ms, shuffle_written):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish},
        "Task Metrics": {
            "Executor Run Time": run_ms, "JVM GC Time": 5,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_written},
        },
    }


def _write_zstd_log(app_dir, events):
    app_dir.mkdir()
    plain = app_dir / "events_1_app-1"
    # compact separators, as Spark writes them
    plain.write_text(
        "".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events)
    )
    subprocess.run(["zstd", "-q", "--rm", str(plain), "-o", f"{plain}.zstd"],
                   check=True)
    (app_dir / "appstatus_app-1").write_text("")


def test_stage_report_reads_zstd_rolling_log(tmp_path, capsys):
    _write_zstd_log(tmp_path / "eventlog_v2_app-1", [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Stage Infos": [{"Stage ID": 0, "Stage Name": "count at x.py:1"},
                         {"Stage ID": 1, "Stage Name": "skipped"}]},
        _task_end(0, 1_000, 3_000, 1_500, 2_000_000),
        _task_end(0, 1_500, 4_000, 2_000, 1_000_000),
    ])
    assert main([str(tmp_path)]) == 0
    out = capsys.readouterr().out.splitlines()
    stage = [ln for ln in out if ln.endswith("count at x.py:1")]
    assert len(stage) == 1
    assert stage[0].split()[:4] == ["0", "2", "3.0", "3.5"]
    assert not any(ln.endswith("skipped") for ln in out)
    assert out[-1] == (
        "TOTAL wall=3.0s cpu=3.5s gc=0.0s shuffleR=0MB shuffleW=3MB"
    )


def test_stage_report_fails_on_log_without_events(tmp_path, capsys):
    _write_zstd_log(tmp_path / "eventlog_v2_app-1", [
        {"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"},
    ])
    assert main([str(tmp_path)]) == 1
    assert "no events" in capsys.readouterr().err
