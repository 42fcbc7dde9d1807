"""tools/job_timeline.py on a small canned event log (no Spark session)."""

import importlib.util
import json
import os
import sys

_PATH = os.path.join(os.path.dirname(__file__), os.pardir, "tools", "job_timeline.py")
_spec = importlib.util.spec_from_file_location("job_timeline", _PATH)
job_timeline = sys.modules["job_timeline"] = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(job_timeline)


def _job_start(jid, t_ms, stages, props):
    return {
        "Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t_ms,
        "Stage Infos": [{"Stage ID": s, "Number of Tasks": n} for s, n in stages],
        "Stage IDs": [s for s, _ in stages], "Properties": props,
    }


def _events():
    up = {"spark.job.description": "upsert seg=1 build"}
    return [
        {"Event": "SparkListenerApplicationStart", "Timestamp": 999_000},
        _job_start(0, 1_000_000, [(0, 4), (1, 2)], up),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1_000_500},
        # stage 0 is skipped: its shuffle output exists
        _job_start(1, 1_000_800, [(0, 4), (2, 1)], up),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1_001_000},
        # overlaps job 1's tail: no gap; labelled by its job group
        _job_start(2, 1_000_900, [(3, 8)], {"spark.jobGroup.id": "load"}),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 3}},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1_001_400},
        _job_start(3, 1_002_000, [(4, 1)], {"callSite.short": "collect at x.py:1"}),
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 4}},
        {"Event": "SparkListenerJobEnd", "Job ID": 3, "Completion Time": 1_002_250},
    ]


def test_job_timeline_rows_and_label_totals(tmp_path, capsys):
    log = tmp_path / "events" / "local-1"
    log.parent.mkdir()
    log.write_text("".join(json.dumps(e) + "\n" for e in _events()))

    jobs = job_timeline.read_jobs(log.read_text().splitlines())
    assert [(j.id, j.label, j.tasks()) for j in jobs] == [
        (0, "upsert seg=1 build", "4 2"),
        (1, "upsert seg=1 build", "[4] 1"),
        (2, "load", "8"),
        (3, "collect at x.py:1", "1"),
    ]
    assert [round(j.duration, 3) for j in jobs] == [0.5, 0.2, 0.5, 0.25]

    assert job_timeline.main([str(log.parent)]) == 0
    lines = capsys.readouterr().out.splitlines()
    rows = [ln.split() for ln in lines[1:5]]
    # job, start offset, gap since the latest earlier end, duration
    assert [r[:4] for r in rows] == [
        ["0", "0.000", "0.000", "0.500"],
        ["1", "0.800", "0.300", "0.200"],
        ["2", "0.900", "0.000", "0.500"],
        ["3", "2.000", "0.600", "0.250"],
    ]
    totals = {" ".join(ln.split()[2:]): ln.split()[:2] for ln in lines[7:]}
    assert totals == {
        "upsert seg=1 build": ["2", "0.700"],
        "load": ["1", "0.500"],
        "collect at x.py:1": ["1", "0.250"],
    }

    assert job_timeline.main([str(log), "--label", "upsert"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert [ln.split()[0] for ln in out[1:3]] == ["0", "1"] and out[3] == ""
