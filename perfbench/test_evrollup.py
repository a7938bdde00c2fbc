"""Event-log rollup on a small synthetic event log.

    python -m pytest perfbench/test_evrollup.py -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import evrollup  # noqa: E402


def _job(jid, t0, t1, desc, stages):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage Infos": [{"Stage ID": s} for s in stages],
         "Properties": {"spark.job.description": desc}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def _task(stage, run_ms, shuffle_bytes=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor Run Time": run_ms,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_bytes}}}


@pytest.fixture
def log_path(tmp_path):
    # times in ms: window 1000..5000
    #   job 0  stage:signatures             1000..2000  (stages 0, 1)
    #   job 1  stage:dup_pairs              2500..3500  (stage 2)
    #   job 2  stage:clusters               3000..4000  (stage 3; overlaps job 1)
    #   job 3  stage:clusters               3200..3600  (stage 4)
    #   job 4  bench:x:check (unlabelled)   4500..4600  (stage 5)
    #   job 5  stage:dup_pairs, leaked      6000..6100  (stage 6)
    #   job 6  lists stage 1 again (skipped there)
    events = [{"Event": "SparkListenerApplicationStart", "Timestamp": 900}]
    events += _job(0, 1000, 2000, "stage:signatures", [0, 1])
    events += _job(1, 2500, 3500, "stage:dup_pairs", [2])
    events += _job(2, 3000, 4000, "stage:clusters", [3])
    events += _job(3, 3200, 3600, "stage:clusters/round_count", [4])
    events += _job(4, 4500, 4600, "bench:x:check", [5])
    events += _job(5, 6000, 6100, "stage:dup_pairs", [6])
    events += _job(6, 6200, 6300, "", [1, 7])
    events += [_task(0, 400, 2_000_000), _task(0, 600), _task(1, 500),
               _task(2, 300, 1_000_000), _task(3, 1000), _task(4, 200),
               _task(5, 50), _task(6, 10), _task(7, 5)]
    p = tmp_path / "eventlog"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    return str(p)


def test_load_jobs_attributes_tasks_to_the_first_listing_job(log_path):
    jobs = {j.id: j for j in evrollup.load_jobs(log_path)}
    assert jobs[0].tasks == 3 and jobs[0].task_s == pytest.approx(1.5)
    assert jobs[0].shuffle_mb == pytest.approx(2.0)
    assert jobs[6].tasks == 1  # stage 1 counted once, under job 0
    assert jobs[3].label == "clusters"
    assert jobs[4].label is None


def test_rollup_unions_overlapping_jobs(log_path):
    jobs = evrollup.load_jobs(log_path)
    r = evrollup.rollup(jobs, 1.0, 5.0)
    st = r["stages"]
    assert st["clusters"]["wall_s"] == pytest.approx(1.0)  # 3.0..4.0 covers 3.2..3.6
    assert st["clusters"]["jobs"] == 2 and st["clusters"]["tasks"] == 2
    assert st["clusters"]["task_s"] == pytest.approx(1.2)
    assert st["dup_pairs"]["jobs"] == 1  # the leaked job is outside the window
    assert st["dup_pairs"]["shuffle_mb"] == pytest.approx(1.0)
    assert st["other"]["jobs"] == 1
    # busy: 1..2, 2.5..4, 4.5..4.6 -> 2.6 s of 4 s
    assert r["driver_gap_s"] == pytest.approx(1.4)
    assert r["jobs"] == 5


def test_self_times_partition_the_window(log_path):
    jobs = evrollup.load_jobs(log_path)
    spans = [("checkpoints", 2.0, 2.4), ("verify", 2.1, 2.2)]
    st = evrollup.self_times(jobs, 1.0, 5.0, spans)
    assert sum(st.values()) == pytest.approx(4.0)
    assert st["job:signatures"] == pytest.approx(1.0)
    # 3.0..3.5 shared by dup_pairs and clusters (twice: 3.2..3.5 has three jobs)
    assert st["job:dup_pairs"] == pytest.approx(0.5 + 0.1 + 0.3 / 3)
    assert st["driver:verify"] == pytest.approx(0.1)
    assert st["driver:checkpoints"] == pytest.approx(0.3)
    assert st["driver_gap"] == pytest.approx(4.0 - 2.6 - 0.4)


def test_leaked_label_jobs(log_path):
    jobs = evrollup.load_jobs(log_path)
    assert evrollup.leaked_label_jobs(jobs, [(1.0, 5.0)]) == 1
    assert evrollup.leaked_label_jobs(jobs, [(1.0, 7.0)]) == 0
