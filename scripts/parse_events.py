"""Join a Spark event log with bench_jobs.py phase boundaries: per phase,
list every job (SQL execution description, wall, stage operator scopes)
so the scheduling floor vs. compute split is visible.

Usage: python scripts/parse_events.py [phases_json] [event_log_path]

The event log may be a single file (plain, or ``.zstd``) or a rolling
log directory ``eventlog_v2_<app>/`` whose ``events_<n>_<app>[.zstd]``
parts are read in order — Spark 4's default layout. ``.zstd`` parts are
decompressed with the ``zstd`` command-line tool, which must be on PATH.
Without a path argument the log is looked up under /tmp/spark-events by
the phases file's app id, in either layout.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from collections import defaultdict
from typing import Iterator


def _parts(log_path: str) -> list[str]:
    """The files of one event log, in write order."""
    if not os.path.isdir(log_path):
        return [log_path]
    found = []
    for name in os.listdir(log_path):
        m = re.match(r"events_(\d+)_", name)
        if m:
            found.append((int(m.group(1)), os.path.join(log_path, name)))
    if not found:
        raise FileNotFoundError(f"no events_* parts in {log_path}")
    return [p for _, p in sorted(found)]


def _lines(part: str) -> Iterator[str]:
    if part.endswith(".zstd"):
        zstd = shutil.which("zstd")
        if zstd is None:
            raise RuntimeError(f"{part} is zstd-compressed; put the zstd "
                               "command-line tool on PATH")
        out = subprocess.run([zstd, "-dc", part], check=True,
                             capture_output=True).stdout
        yield from out.decode("utf-8").splitlines()
    else:
        with open(part, encoding="utf-8") as f:
            yield from f


def iter_events(log_path: str) -> Iterator[dict]:
    """Every event of a plain, zstd or rolling event log, in order."""
    for part in _parts(log_path):
        for line in _lines(part):
            if line.strip():
                yield json.loads(line)


def default_log_path(app_id: str, log_dir: str = "/tmp/spark-events") -> str:
    """The log of ``app_id`` under ``log_dir``: a rolling directory, or a
    single file with or without a compression suffix."""
    for name in (f"eventlog_v2_{app_id}", app_id, f"{app_id}.zstd"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def main() -> None:
    phases_json = sys.argv[1] if len(sys.argv) > 1 \
        else "/tmp/bench_jobs_phases.json"
    with open(phases_json) as f:
        ph = json.load(f)
    log_path = sys.argv[2] if len(sys.argv) > 2 \
        else default_log_path(ph["app_id"])

    jobs = {}          # jobId -> dict
    stage_info = {}    # stageId -> dict
    sql_desc = {}      # execId -> description
    for ev in iter_events(log_path):
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            jobs[jid] = {
                "desc": props.get("spark.job.description", ""),
                "exec": props.get("spark.sql.execution.id"),
                "start": ev["Submission Time"] / 1000.0,
                "stages": [s["Stage ID"] for s in ev["Stage Infos"]],
                "end": None,
            }
        elif e == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in jobs:
                jobs[jid]["end"] = ev["Completion Time"] / 1000.0
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            scopes = []
            for ri in si.get("RDD Info", []):
                sc = ri.get("Scope")
                if sc:
                    try:
                        nm = json.loads(sc).get("name")
                    except Exception:
                        nm = None
                    if nm and nm not in scopes:
                        scopes.append(nm)
            stage_info[si["Stage ID"]] = {
                "scopes": scopes,
                "tasks": si.get("Number of Tasks", 0),
                "wall": (comp - sub) / 1000.0 if sub and comp else None,
            }
        elif e and e.endswith("SparkListenerSQLExecutionStart"):
            sql_desc[str(ev.get("executionId"))] = \
                ev.get("description", "")[:90].replace("\n", " ")

    def phase_of(t: float) -> str:
        for p in ph["phases"]:
            if p["t0"] <= t <= p["t1"] + 0.05:
                return p["name"]
        return "(outside)"

    by_phase = defaultdict(list)
    for jid, j in sorted(jobs.items()):
        if j["end"] is None:
            continue
        by_phase[phase_of(j["start"])].append((jid, j))

    for p in ph["phases"]:
        name = p["name"]
        js = by_phase.get(name, [])
        tot = sum(j["end"] - j["start"] for _, j in js)
        gap = p["wall"] - tot
        print(f"\n== {name}: wall {p['wall']:.3f}s, {len(js)} jobs "
              f"(job-sum {tot:.3f}s, driver-gap {gap:.3f}s) ==")
        for jid, j in js:
            w = j["end"] - j["start"]
            d = sql_desc.get(str(j["exec"]), "")
            parts = []
            for sid in j["stages"]:
                si = stage_info.get(sid)
                if si and si["wall"] is not None:
                    sc = ",".join(si["scopes"][:4])
                    parts.append(f"[{si['tasks']}t {si['wall']:.2f}s {sc}]")
            print(f"  job {jid}: {w:6.3f}s exec={j['exec']} ({d})")
            for pt in parts:
                print(f"      {pt}")
    js = by_phase.get("(outside)", [])
    if js:
        tot = sum(j['end'] - j['start'] for _, j in js)
        print(f"\n== outside phases: {len(js)} jobs, {tot:.3f}s ==")


if __name__ == "__main__":
    main()
