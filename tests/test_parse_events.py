"""scripts/parse_events.py reads the event-log layouts Spark 4 writes: a
plain single file, and a rolling ``eventlog_v2_<app>/`` directory whose
parts may be zstd-compressed."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

import parse_events  # noqa: E402

APP = "local-1700000000000"


def _events(job_id: int, t0_ms: int) -> list[dict]:
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Submission Time": t0_ms,
         "Stage Infos": [{"Stage ID": job_id}],
         "Properties": {"spark.job.description": f"job-{job_id}"}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": job_id, "Number of Tasks": 2,
                        "Submission Time": t0_ms,
                        "Completion Time": t0_ms + 400,
                        "RDD Info": [{"Scope": json.dumps(
                            {"id": "1", "name": "ArrowEvalPython"})}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id,
         "Completion Time": t0_ms + 500},
    ]


def _write(path: str, events: list[dict], zstd: bool = False) -> None:
    with open(path, "w") as f:
        f.writelines(json.dumps(e) + "\n" for e in events)
    if zstd:
        subprocess.run(["zstd", "-q", "--rm", path, "-o", path + ".zstd"],
                       check=True)


@pytest.fixture
def logs(tmp_path):
    plain = tmp_path / APP
    _write(str(plain), _events(0, 1_000_000) + _events(1, 1_001_000))
    rolling = tmp_path / f"eventlog_v2_{APP}"
    rolling.mkdir()
    (rolling / f"appstatus_{APP}.inprogress").write_text("")
    # one plain part, two zstd parts; "events_10" sorts first as text,
    # so the parts must be read in numeric order
    job1 = _events(1, 1_001_000)
    _write(str(rolling / f"events_1_{APP}"), _events(0, 1_000_000),
           zstd=True)
    _write(str(rolling / f"events_2_{APP}"), job1[:1])
    _write(str(rolling / f"events_10_{APP}"), job1[1:], zstd=True)
    return tmp_path, plain, rolling


@pytest.mark.skipif(shutil.which("zstd") is None, reason="no zstd tool")
def test_plain_and_rolling_zstd_logs_read_alike(logs):
    _, plain, rolling = logs
    got_plain = list(parse_events.iter_events(str(plain)))
    got_rolling = list(parse_events.iter_events(str(rolling)))
    assert len(got_plain) == 6
    assert got_rolling == got_plain


@pytest.mark.skipif(shutil.which("zstd") is None, reason="no zstd tool")
def test_report_on_rolling_log(logs):
    tmp, _, rolling = logs
    assert parse_events.default_log_path(APP, str(tmp)) == str(rolling)
    phases = tmp / "phases.json"
    phases.write_text(json.dumps({"app_id": APP, "phases": [
        {"name": "search", "t0": 999.9, "t1": 1001.6, "wall": 1.7}]}))
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "parse_events.py"),
         str(phases), str(rolling)],
        check=True, capture_output=True, text=True).stdout
    assert "== search: wall 1.700s, 2 jobs" in out
    assert "[2t 0.40s ArrowEvalPython]" in out
